"""Headless CLI — the reference app's workflow without the UI:

    python -m etl_tool_rep_spark \
        --primary data/orders.csv \
        --mapping data/customer_mapping.csv \
        --pipeline rules.json \
        --output out/ [--format csv|parquet] [--permissive]

Loads the primary + mapping files (any supported format, extension-
dispatched), compiles the pipeline JSON (either schema), runs it, and
writes the result.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="etl_tool_rep_spark",
        description="Run a declarative rule pipeline over data files.")
    ap.add_argument("--primary", required=True,
                    help="primary (fact) table file")
    ap.add_argument("--mapping", action="append", default=[],
                    help="mapping table file (repeatable); table name "
                         "is the file stem")
    ap.add_argument("--pipeline", required=True,
                    help="pipeline JSON (rules list or output_columns "
                         "schema)")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--format", choices=["csv", "parquet"],
                    default="csv")
    ap.add_argument("--permissive", action="store_true",
                    help="drop failing rules instead of aborting "
                         "(reference per-rule isolation)")
    ap.add_argument("--single-file", action="store_true",
                    help="write csv output as one file (parts are "
                         "written in parallel, then concatenated)")
    args = ap.parse_args(argv)

    from .engine import ETLEngine
    from .session import get_spark
    from .sinks import write_parquet

    spark = get_spark("etl_tool_rep_spark_cli")
    eng = ETLEngine(spark)
    primary_name = eng.add_file(args.primary)
    eng.set_primary(primary_name)
    for m in args.mapping:
        eng.add_mapping_file(m)
    with open(args.pipeline) as fh:
        eng.import_pipeline_json(fh.read())

    result = eng.run(permissive=args.permissive)
    if args.format == "parquet":
        write_parquet(result, args.output)
    else:
        eng.export_csv(result, args.output,
                       single_file=args.single_file)
    print(f"wrote {args.format} to {args.output} "
          f"({len(result.columns)} columns)", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
