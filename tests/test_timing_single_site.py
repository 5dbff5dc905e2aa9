"""Timing loops have one implementation: ``tools/measure.py`` is the
only tool that times a query with a noop write, so the clock, the
warm-up, the statistic and the stage metrics are decided in one
place."""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_NOOP = re.compile(r"""\.write\s*\.format\(\s*["']noop["']""")


def test_only_measure_times_noop_writes():
    measure = os.path.join(ROOT, "tools", "measure.py")
    hits, in_measure = [], 0
    for d, _, files in os.walk(os.path.join(ROOT, "tools")):
        for f in files:
            if not f.endswith((".py", ".sh")):
                continue
            path = os.path.join(d, f)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if not _NOOP.search(line):
                        continue
                    if path == measure:
                        in_measure += 1
                    else:
                        hits.append(f"{os.path.relpath(path, ROOT)}:{i}")
    assert not hits, "time queries with tools/measure.py: " + ", ".join(hits)
    assert in_measure == 1
