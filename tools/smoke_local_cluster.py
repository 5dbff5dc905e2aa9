#!/usr/bin/env python
"""local-cluster smoke of the file-touching keys, a manual check.
Local mode runs everything in ONE JVM, where an accidental
driver-only-filesystem or closure-serialization assumption in the
binaryFile / lakehouse / streaming families could hide.
``local-cluster[2,2,8192]`` puts the two executors in SEPARATE JVM
processes (still one machine, shared FS — matching the repo's
local-filesystem lakehouse contract) and would surface:

* closures capturing non-serializable driver state,
* executor-side reads of paths only the driver wrote via Python
  (everything here goes through Spark writers, so the files must be
  visible to executor JVMs — this proves it),
* broadcast/accumulator misuse that local mode forgives.

Each key must return the same ROW COUNT as a plain local[4] run in
the same process pass (full value hashes are the sweep's job — this
is an execution-model smoke over the ~30 file-touching keys; run it
by hand after changing how those keys read or write files).

    python tools/smoke_local_cluster.py [names...]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_PATTERN = (r"lakehouse|streaming|incremental|multimodal|image|audio"
            r"|wav|jpeg|binary|ingest")


def run_pass(master: str, sf_dir: str, names: list[str]) -> dict:
    """One SparkSession per master; returns {key: row_count|ERR}."""
    from etl_tool_rep_spark.session import get_spark
    from etl_tool_rep_spark.queries.registry import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = get_spark(f"smoke-{re.sub(r'[^a-z0-9]', '', master)}",
                      master=master,
                      extra_conf={
                          "spark.sql.shuffle.partitions": "8",
                          # executor JVMs spawn their OWN Python
                          # workers: unlike local mode they don't
                          # inherit the driver's sys.path, so the
                          # repo package must ride PYTHONPATH (on a
                          # real cluster: --py-files / a wheel)
                          "spark.executorEnv.PYTHONPATH": repo,
                      })
    out = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            n = QUERIES[name](spark, sf_dir).count()
            out[name] = n
            print(f"  {name}: {n} rows "
                  f"({time.perf_counter() - t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 — smoke must report all
            out[name] = f"ERR: {type(e).__name__}: {e}"
            print(f"  {name}: FAILED {type(e).__name__}: "
                  f"{str(e)[:200]}", flush=True)
    spark.stop()
    return out


def main() -> int:
    from etl_tool_rep_spark.queries.registry import QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            "/root/testdata/sf0.01")
    names = sys.argv[1:] or sorted(
        k for k in QUERIES if re.search(_PATTERN, k))
    print(f"== local[4] baseline pass ({len(names)} keys, {sf_dir})")
    base = run_pass("local[4]", sf_dir, names)
    print("== local-cluster[2,2,8192] pass (2 executor JVMs)")
    lc = run_pass("local-cluster[2,2,8192]", sf_dir, names)

    bad = {k for k in names
           if isinstance(lc[k], str) or lc[k] != base[k]}
    for k in sorted(bad):
        print(f"MISMATCH {k}: local={base[k]} cluster={lc[k]}")
    print(f"== {len(names) - len(bad)}/{len(names)} keys identical "
          f"across execution models")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
