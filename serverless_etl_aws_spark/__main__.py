"""CLI entry point — the engine's replacement for the reference's job
parameter binding (reference: src/glue_scripts/bronze_to_silver.py:62,
``getResolvedOptions(JOB_NAME, source_bucket, target_bucket, ...)``).

Usage:
    python -m serverless_etl_aws_spark taxi --bronze DIR --silver DIR \
        [--month YYYY-MM]
    python -m serverless_etl_aws_spark sql --zone DIR "SELECT ..."
    python -m serverless_etl_aws_spark tables --zone DIR
    python -m serverless_etl_aws_spark explain --zone DIR KEY_OR_SQL \
        [--mode MODE] [--allow-side-effects]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="serverless_etl_aws_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    taxi = sub.add_parser("taxi", help="run the bronze→silver taxi job")
    taxi.add_argument("--bronze", required=True)
    taxi.add_argument("--silver", required=True)
    taxi.add_argument("--month", help="YYYY-MM watermark gate; omit to drain")

    sql = sub.add_parser("sql", help="run SQL over a zone's fixture tables")
    sql.add_argument("--zone", required=True)
    sql.add_argument("query")
    sql.add_argument("--limit", type=int, default=20)

    tables = sub.add_parser("tables", help="list known tables")
    tables.add_argument("--zone", required=True)

    explain = sub.add_parser(
        "explain",
        help="show the physical plan of a registry key or SQL",
        description=(
            "Show the physical plan of a registry key or SQL string. "
            "Keys declared Query.build='side_effects' (streaming runs, "
            "atomic-table maintenance, staged scans) execute real work "
            "at DataFrame-build time; explaining them RUNS them, so "
            "they are refused without --allow-side-effects."
        ),
    )
    explain.add_argument("--zone", required=True)
    explain.add_argument("query", help="registry key (e.g. agg_group) or SQL")
    explain.add_argument("--mode", default="formatted")
    explain.add_argument(
        "--allow-side-effects", action="store_true",
        help="permit explaining a key that executes work when built",
    )

    args = parser.parse_args(argv)

    if args.cmd == "tables":
        # pure-Python constant — don't boot a JVM to print ten names
        from . import schemas

        print("\n".join(sorted(schemas.TABLES)))
        return 0

    from .engine import Engine

    eng = Engine(zone_root=getattr(args, "zone", "."))
    if args.cmd == "taxi":
        job = eng.taxi_job(bronze_dir=args.bronze, silver_dir=args.silver)
        result = job.run_month(args.month) if args.month else job.run_available()
        if result is None:
            print(f"skip: {args.month} already processed (watermark gate)")
        else:
            print(
                f"ingested files={result.files_processed} "
                f"rows={result.rows_ingested} batches={result.batches}"
            )
        return 0
    if args.cmd == "sql":
        eng.sql(args.query).show(args.limit, truncate=False)
        return 0
    if args.cmd == "explain":
        try:
            print(
                eng.explain(
                    args.query, mode=args.mode,
                    allow_side_effects=args.allow_side_effects,
                )
            )
        except ValueError as exc:  # eager-key refusal: message, not a trace
            print(f"refused: {exc}", file=sys.stderr)
            return 2
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
