"""Command-line interface — the reference's per-table ingest flags
re-expressed for Spark (reference tools/ingest_runner.py:2029-2074):
--limit, --dedup none|replacing|staging, --unique-key, --version-col,
and audit output. Flags that only exist for the reference's
table-DISCOVERY loop (--include/--exclude) live on the library API
instead (sources/jdbc.filter_tables) — this CLI ingests one named
table; --truncate-before-load is implicit (every write is an
overwrite; unlike the reference's W2 swap it is not atomic yet).

Subcommands:
- ``ingest``  one table: scan → clean → dedup → write → audit report
- ``views``   build the ``*_v`` analytics views for given tables
- ``audit``   source-vs-sink row-count reconciliation only
- ``query``   run any registered query by name (JSON-lines output)
- ``list``    list registered query names

All output is JSON lines on stdout (the reference emits
logs/ingest_status.json-style artifacts, Q6).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame


def _rows_json(df: DataFrame, limit: int = 1000) -> list[dict]:
    return [row.asDict(recursive=True) for row in df.limit(limit).collect()]


def _emit(obj) -> None:
    print(json.dumps(obj, default=str))


def cmd_ingest(args) -> int:
    from automatic_etl_spark.ingest import IngestSpec, ingest_table
    from automatic_etl_spark.operators.audit import grand_total
    from automatic_etl_spark.session import get_spark
    from automatic_etl_spark.sources.parquet import table

    if args.dedup != "none" and not (
        args.unique_key and (args.version_col or args.tiebreaker)
    ):
        # silently running NO dedup while the output JSON reports a
        # dedup mode would let duplicates land with a passing audit; a
        # dedup without a version or tiebreaker has no latest row
        print(
            f"error: --dedup {args.dedup} requires --unique-key and "
            "--version-col or --tiebreaker",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="etl-cli-ingest")
    source = table(spark, args.sf_dir, args.table)
    if args.limit:
        source = source.limit(args.limit)
    dedup_keys = tuple(args.unique_key) if args.dedup != "none" else ()
    spec = IngestSpec(
        dedup_keys=dedup_keys,
        version_cols=tuple(args.version_col),
        tiebreaker=tuple(args.tiebreaker),
        audit_key=args.audit_key,
    )
    audit = ingest_table(spark, source, args.target, spec)
    _emit(
        {
            "command": "ingest",
            "table": args.table,
            "target": args.target,
            "dedup": args.dedup,
            "audit": _rows_json(audit),
            "status": _rows_json(grand_total(audit)),
        }
    )
    return 0


def cmd_views(args) -> int:
    from automatic_etl_spark.operators.views import create_analytics_views
    from automatic_etl_spark.session import get_spark
    from automatic_etl_spark.sources.parquet import table

    spark = get_spark(app_name="etl-cli-views")
    frames = {name: table(spark, args.sf_dir, name) for name in args.tables}
    created = create_analytics_views(spark, frames)
    _emit(
        {
            "command": "views",
            "created": {
                name: [c for c in df.columns if c.endswith("_date")]
                for name, df in created.items()
            },
        }
    )
    return 0


def cmd_audit(args) -> int:
    from automatic_etl_spark.operators.audit import grand_total, reconcile_counts
    from automatic_etl_spark.session import get_spark
    from automatic_etl_spark.sources.parquet import table

    spark = get_spark(app_name="etl-cli-audit")
    source = table(spark, args.sf_dir, args.table)
    sink = spark.read.parquet(args.sink)
    report = reconcile_counts(source, sink, key=args.key, key_alias=args.key)
    _emit(
        {
            "command": "audit",
            "table": args.table,
            "report": _rows_json(report),
            "status": _rows_json(grand_total(report)),
        }
    )
    return 0


def cmd_query(args) -> int:
    from automatic_etl_spark.plans.all_plans import REGISTRY
    from automatic_etl_spark.session import get_spark

    if args.name not in REGISTRY:
        _emit({"error": f"unknown query {args.name!r}"})
        return 2
    spark = get_spark(app_name="etl-cli-query")
    fn, _oracle = REGISTRY[args.name]
    _emit(
        {
            "command": "query",
            "name": args.name,
            "rows": _rows_json(fn(spark, args.sf_dir), limit=args.limit),
        }
    )
    return 0


def cmd_list(args) -> int:
    from automatic_etl_spark.plans.all_plans import REGISTRY

    _emit({"command": "list", "queries": sorted(REGISTRY)})
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="automatic_etl_spark")
    sub = p.add_subparsers(dest="command", required=True)

    ing = sub.add_parser("ingest", help="scan → clean → dedup → write → audit")
    ing.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ing.add_argument("--table", required=True)
    ing.add_argument("--target", required=True)
    ing.add_argument("--limit", type=int, default=0)  # reference --limit
    ing.add_argument(
        "--dedup", choices=["none", "replacing", "staging"], default="none"
    )
    ing.add_argument("--unique-key", nargs="*", default=[])
    ing.add_argument("--version-col", nargs="*", default=[])
    ing.add_argument("--tiebreaker", nargs="*", default=[])
    ing.add_argument("--audit-key", default=None)
    ing.set_defaults(fn=cmd_ingest)

    vw = sub.add_parser("views", help="build *_v analytics views")
    vw.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    vw.add_argument("--tables", nargs="+", required=True)
    vw.set_defaults(fn=cmd_views)

    au = sub.add_parser("audit", help="row-count reconciliation")
    au.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    au.add_argument("--table", required=True)
    au.add_argument("--sink", required=True)
    au.add_argument("--key", required=True)
    au.set_defaults(fn=cmd_audit)

    q = sub.add_parser("query", help="run a registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=1000)
    q.set_defaults(fn=cmd_query)

    ls = sub.add_parser("list", help="list registered queries")
    ls.set_defaults(fn=cmd_list)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
