"""CLI: run the engine as an HTTP service, or run suite queries /
benchmarks from the shell.

Reference: ``vechord/cli.py:1-28`` — an ArgumentParser with
``--db/--host/--port`` that builds a ``VechordRegistry`` and serves
``create_web_app`` under uvicorn. The Spark analog swaps the Postgres
URL for a parquet ``--base-path`` + ``--namespace`` (the registry's
storage root), and uvicorn for the stdlib server in ``service.py``.
Two extra subcommands (``query``, ``bench``) expose the suite from the
shell — engine affordances, not reference parity.
"""

from __future__ import annotations

import json
import sys
from argparse import ArgumentParser


def build_parser() -> ArgumentParser:
    parser = ArgumentParser(
        prog="vechord_spark",
        description="Run vechord_spark as a pipeline service or query runner.",
    )
    sub = parser.add_subparsers(dest="command", required=True)

    serve = sub.add_parser("serve", help="serve the HTTP API (reference cli.py)")
    serve.add_argument(
        "--base-path", type=str, default="/tmp/vechord_spark",
        help="Parquet storage root (the Spark analog of the reference's DB URL).",
    )
    serve.add_argument("--namespace", type=str, default="cli", help="Registry namespace.")
    serve.add_argument("--host", type=str, default="localhost", help="Service host.")
    serve.add_argument("--port", type=int, default=8000, help="Service port.")

    query = sub.add_parser("query", help="run one suite query, print JSON rows")
    query.add_argument("name", type=str, help="suite query name (see `list`)")
    query.add_argument("--sf-dir", type=str, default="/root/testdata/sf0.001")
    query.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list available suite queries")

    bench = sub.add_parser("bench", help="run bench.py's suite and print the JSON line")
    bench.add_argument("--sf-dir", type=str, default=None)

    compact = sub.add_parser(
        "compact", help="merge a table's small parquet files (lakehouse OPTIMIZE)"
    )
    compact.add_argument("--base-path", type=str, default="/tmp/vechord_spark")
    compact.add_argument("--namespace", type=str, default="cli")
    compact.add_argument("table", type=str, help="registered table name")
    compact.add_argument(
        "--target-file-mb", type=int, default=128,
        help="target output file size in MiB (default 128)",
    )
    compact.add_argument(
        "--shuffle", action="store_true",
        help="repartition (even output files) instead of coalesce",
    )
    compact.add_argument(
        "--indexes", action="store_true",
        help="also rewrite the table's index layouts (postings/doclen, "
        "clustered IVF copies) — compact_index()",
    )

    recl = sub.add_parser(
        "recluster",
        help="split drifted IVF cells (targeted REINDEX — "
        "recluster_vector_index())",
    )
    recl.add_argument("--base-path", type=str, default="/tmp/vechord_spark")
    recl.add_argument("--namespace", type=str, default="cli")
    recl.add_argument("table", type=str, help="registered table name")
    recl.add_argument(
        "--vector-col", type=str, required=True,
        help="the table's vector column (the maintenance CLI infers "
        "column shapes from parquet, which loses the Vector metadata)",
    )
    recl.add_argument(
        "--max-cell-factor", type=float, default=2.0,
        help="split cells larger than this multiple of the mean cell "
        "size (default 2.0)",
    )
    recl.add_argument(
        "--multivec", action="store_true",
        help="the named column is a multivector (array of token "
        "vectors); recluster the .mvivf layout instead",
    )

    hist = sub.add_parser(
        "history", help="print a table's commit log (manifest versions)"
    )
    hist.add_argument("--base-path", type=str, default="/tmp/vechord_spark")
    hist.add_argument("--namespace", type=str, default="cli")
    hist.add_argument("table", type=str, help="registered table name")

    vac = sub.add_parser(
        "vacuum",
        help="reclaim data files the current snapshot no longer references "
        "(rewrite history + crashed-writer orphans)",
    )
    vac.add_argument("--base-path", type=str, default="/tmp/vechord_spark")
    vac.add_argument("--namespace", type=str, default="cli")
    vac.add_argument("table", type=str, help="registered table name")
    vac.add_argument(
        "--older-than-s", type=float, default=3600.0,
        help="only delete files older than this many seconds (default 3600 "
        "— keeps an in-flight writer's staged files safe)",
    )

    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "list":
        from vechord_spark.suite import ORACLES, QUERIES

        for name in QUERIES:
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{kind}")
        return 0

    if args.command == "serve":
        from vechord_spark.registry import VechordRegistry
        from vechord_spark.service import create_web_app, serve
        from vechord_spark.session import get_spark

        spark = get_spark("vechord-serve")
        registry = VechordRegistry(args.namespace, args.base_path, spark)
        server = serve(create_web_app(registry), host=args.host, port=args.port)
        print(f"serving on http://{args.host}:{server.server_address[1]}", flush=True)
        try:
            import threading

            threading.Event().wait()  # serve until interrupted
        except KeyboardInterrupt:
            server.shutdown()
        return 0

    if args.command == "query":
        from vechord_spark.service import rows_to_json
        from vechord_spark.session import get_spark
        from vechord_spark.suite import QUERIES

        if args.name not in QUERIES:
            print(f"unknown query {args.name!r}; try `vechord_spark list`",
                  file=sys.stderr)
            return 2
        spark = get_spark("vechord-query")
        df = QUERIES[args.name](spark, args.sf_dir)
        print(json.dumps(rows_to_json(df, args.limit), default=str))
        return 0

    if args.command == "compact":
        from vechord_spark.registry import VechordRegistry
        from vechord_spark.session import get_spark
        from vechord_spark.spec import Column, TableSpec

        spark = get_spark("vechord-compact")
        registry = VechordRegistry(args.namespace, args.base_path, spark)
        # specs live in the owning process; a maintenance CLI infers
        # the table shape from the parquet footprint it is compacting
        path = registry.table_path(args.table)
        try:
            schema = spark.read.parquet(path).schema
        except Exception:
            print(f"no table storage at {path}", file=sys.stderr)
            return 2
        registry.register(
            TableSpec(args.table, [Column(f.name, f.dataType) for f in schema.fields])
        )
        stats = registry.compact(
            args.table,
            target_file_bytes=args.target_file_mb << 20,
            shuffle=args.shuffle,
        )
        if args.indexes:
            stats.update(registry.compact_index(args.table))
        print(json.dumps(stats))
        return 0

    if args.command == "recluster":
        from vechord_spark.registry import VechordRegistry
        from vechord_spark.session import get_spark
        from vechord_spark.spec import Column, MultiVector, TableSpec, Vector

        spark = get_spark("vechord-recluster")
        registry = VechordRegistry(args.namespace, args.base_path, spark)
        path = registry.table_path(args.table)
        try:
            df = spark.read.parquet(path)
        except Exception:
            print(f"no table storage at {path}", file=sys.stderr)
            return 2
        if args.vector_col not in df.columns:
            print(
                f"table {args.table} has no column {args.vector_col!r}",
                file=sys.stderr,
            )
            return 2
        first = df.select(args.vector_col).first()
        if first is None or first[0] is None or len(first[0]) == 0:
            print(f"table {args.table} is empty", file=sys.stderr)
            return 2
        if args.multivec:
            vtype = MultiVector(len(first[0][0]))
        else:
            vtype = Vector(len(first[0]))
        registry.register(
            TableSpec(
                args.table,
                [
                    Column(f.name, vtype)
                    if f.name == args.vector_col
                    else Column(f.name, f.dataType)
                    for f in df.schema.fields
                ],
            )
        )
        recluster = (
            registry.recluster_multivec_index
            if args.multivec
            else registry.recluster_vector_index
        )
        stats = recluster(args.table, max_cell_factor=args.max_cell_factor)
        print(json.dumps(stats))
        return 0

    if args.command in ("history", "vacuum"):
        # pure manifest-log maintenance — no SparkSession needed
        from pathlib import Path

        from vechord_spark.plans.commitlog import TableLog

        table_dir = Path(args.base_path) / f"{args.namespace}_{args.table}"
        log = TableLog(table_dir)
        if not log.exists():
            print(
                f"no commit log at {table_dir} (table absent, or not written "
                "since it was created by an older version)",
                file=sys.stderr,
            )
            return 2
        if args.command == "history":
            for entry in log.entries():
                print(json.dumps(entry))
        else:
            deleted = log.vacuum(args.older_than_s)
            print(json.dumps({"deleted": deleted, "n": len(deleted)}))
        return 0

    if args.command == "bench":
        import os
        import runpy

        if args.sf_dir:
            os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
        runpy.run_module("bench", run_name="__main__")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
