"""Command-line entry point — ``python -m cs_5542_lab_6_spark <cmd>``.

The reference is driven by ad-hoc scripts plus a uvicorn backend
(reference: backend/app.py, reproducibility/README.md run steps); this
CLI gives the engine the same day-one operability surface in one place:

    python -m cs_5542_lab_6_spark list
    python -m cs_5542_lab_6_spark build  --sf-dir /root/testdata/sf0.01 --out /tmp/wh
    python -m cs_5542_lab_6_spark query  vector_topk --sf-dir /root/testdata/sf0.01 -n 10
    python -m cs_5542_lab_6_spark serve  --sf-dir /root/testdata/sf0.01 --port 8000

Every subcommand builds one SparkSession via ``session.get_spark`` (the
engine's single config point) and goes through the same registry /
pipeline code paths the driver and tests exercise — the CLI adds no
query logic of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Resolve the default data directory from $SPARK_GRAFT_SF_DIR so the CLI
# is portable; the literal is only the last-resort fallback.
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="cs_5542_lab_6_spark", description=__doc__.splitlines()[0]
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries (oracle-backed marked)")

    b = sub.add_parser("build", help="materialize the corpus warehouse")
    b.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    b.add_argument("--out", required=True, help="warehouse output directory")
    b.add_argument(
        "--no-resume", action="store_true", help="rebuild even if checkpoints exist"
    )

    q = sub.add_parser("query", help="run a registered query and print rows")
    q.add_argument("name", help="query name from `list`")
    q.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    q.add_argument("-n", "--rows", type=int, default=20, help="max rows to print")
    q.add_argument(
        "--explain", action="store_true", help="print the formatted physical plan"
    )

    s = sub.add_parser("serve", help="serve the HTTP API (dev-grade WSGI)")
    s.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8000)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from .registry import all_oracles, all_queries

    if args.cmd == "list":
        oracles = all_oracles()
        for name in all_queries():
            marker = "oracle" if name in oracles else "rows-only"
            print(f"{name}\t{marker}")
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"cs5542-cli-{args.cmd}")
    try:
        if args.cmd == "build":
            from .pipeline.ingest import build_corpus

            report = build_corpus(
                spark, args.sf_dir, args.out, resume=not args.no_resume
            )
            print(json.dumps(report, indent=2, default=str))
            return 0 if all(v["status"] == "OK" for v in report.values()) else 1

        if args.cmd == "query":
            queries = all_queries()
            if args.name not in queries:
                print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
                return 2
            df = queries[args.name](spark, args.sf_dir)
            if args.explain:
                from .plans.inspect import formatted_plan

                print(formatted_plan(df))
            df.show(args.rows, truncate=False)
            return 0

        if args.cmd == "serve":
            from .server import serve

            serve(spark, args.sf_dir, host=args.host, port=args.port)
            return 0
        return 2
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
