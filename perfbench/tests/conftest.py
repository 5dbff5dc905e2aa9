import os
import sys

# the benchmark's modules import each other, and tools/check_oracle.py,
# by plain name, as run.py sets up
_BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_BENCH, os.path.join(os.path.dirname(_BENCH), "tools")]
