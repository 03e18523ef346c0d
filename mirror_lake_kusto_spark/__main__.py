"""CLI entry point — the Spark twin of the reference's console app
(Program.cs:76, CommandLineOptions.cs:10-20).

One-shot sync (drain all pending commits, then exit):

    python -m mirror_lake_kusto_spark \
        --storage /path/to/delta_source \
        --target  /path/to/mirror_table \
        --checkpoint /path/to/state_dir \
        --table orders

Continuous mode (5 s poll loop, like the reference's --continuous +
BETWEEN_TX_PROBE_DELAY):

    python -m mirror_lake_kusto_spark ... --continuous [--poll-seconds 5]

Retention (the reference's --go-back / --creation-time pair, O5/J1):

    python -m mirror_lake_kusto_spark ... \
        --go-back 30 --creation-time "to_timestamp(p0)"

Flag mapping to the reference:
  --storage        <- -s/--storage  (Delta Table Storage URL)
  --target         <- -d/-t db/table (the Kusto target; here a path)
  --checkpoint     <- -c/--checkpoint (state CSV folder)
  --table          <- -t/--table
  --continuous     <- --continuous
  --go-back        <- -g/--go-back (days)
  --creation-time  <- --creation-time (SQL expr over partition values
                      p0..pn, as the reference's Kusto expression)
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m mirror_lake_kusto_spark",
        description="Mirror a Delta Lake table into a target table, "
        "exactly once, one transaction batch at a time.",
    )
    ap.add_argument(
        "-s", "--storage", required=True, help="source Delta table path"
    )
    ap.add_argument(
        "--target", required=True, help="target (mirror) table path"
    )
    ap.add_argument(
        "-c",
        "--checkpoint",
        required=True,
        help="state-store directory (the reference's checkpoint CSV folder)",
    )
    ap.add_argument(
        "-t", "--table", default="mirror", help="logical table name"
    )
    ap.add_argument(
        "--continuous",
        action="store_true",
        help="poll for new commits forever instead of exiting when idle",
    )
    ap.add_argument(
        "--poll-seconds",
        type=float,
        default=5.0,
        help="probe delay between polls in continuous mode (default 5)",
    )
    ap.add_argument(
        "--max-polls",
        type=int,
        default=None,
        help="stop continuous mode after N idle polls (mainly for tests)",
    )
    ap.add_argument(
        "-g",
        "--go-back",
        type=int,
        default=None,
        metavar="DAYS",
        help="skip blobs whose creation time predates now minus DAYS",
    )
    ap.add_argument(
        "--creation-time",
        default=None,
        metavar="EXPR",
        help="expression over partition-value columns p0..pn that "
        "yields each blob's creation timestamp (used with --go-back); "
        "Spark SQL or the reference's KQL spelling, see "
        "--creation-time-dialect",
    )
    ap.add_argument(
        "--creation-time-dialect",
        choices=("auto", "spark", "kql"),
        default="auto",
        help="how to read --creation-time: 'spark' = Spark SQL, 'kql' "
        "= the reference's KQL scalar dialect (e.g. "
        "todatetime(strcat(p0,'-01-01'))), 'auto' (default) = Spark "
        "when it analyzes, else the KQL translation",
    )
    ap.add_argument(
        "--max-items-per-batch",
        type=int,
        default=100_000,
        help="driver-metadata ceiling per transaction batch",
    )
    ap.add_argument(
        "--optimize-target-every",
        type=int,
        default=None,
        metavar="N",
        help="compact the target's small files every N batches",
    )
    ap.add_argument(
        "--on-schema-change",
        choices=(
            "fail", "evolve-add", "evolve-rename", "widen", "evolve-drop"
        ),
        default="fail",
        help="fail: reference parity (mid-stream schema change throws); "
        "evolve-add: additive column changes re-record the schema and "
        "the sync continues (Kusto .create-merge posture); "
        "evolve-rename: adds + column-mapping renames follow; "
        "widen: adds + lossless type widenings follow "
        "(PROTOCOL.md Type Widening); "
        "evolve-drop: adds + column drops follow (column-mapping "
        "logical drop on the target)",
    )
    ap.add_argument(
        "--cpus", type=int, default=None, help="local[N] parallelism"
    )
    ap.add_argument("-v", "--verbose", action="store_true")
    return ap


def build_kql_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m mirror_lake_kusto_spark kql",
        description="Run a KQL pipe query against parquet or Delta "
        "tables (the reference's emitted dialect, runnable verbatim).",
    )
    ap.add_argument(
        "query",
        help="KQL text, or @path to read the query from a file",
    )
    ap.add_argument(
        "--table",
        action="append",
        default=[],
        metavar="NAME=PATH",
        help="bind a table name to a parquet file/dir or Delta table "
        "path (repeatable); Delta is detected by _delta_log",
    )
    ap.add_argument(
        "--format",
        choices=("table", "csv", "json"),
        default="table",
        help="output rendering (default: table)",
    )
    ap.add_argument("--limit", type=int, default=1000,
                    help="max rows shown in table format (default 1000)")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    return ap


def kql_main(argv: list[str]) -> int:
    import os

    args = build_kql_parser().parse_args(argv)
    from .functions.kql_parse import kql
    from .session import build_session
    from .sources.delta_sink import DeltaSink
    from .sources.tables import read_parquet

    spark = build_session(app_name="mlk-kql", cpus=args.cpus)
    if not args.verbose:
        spark.sparkContext.setLogLevel("ERROR")
    tables = {}
    for spec in args.table:
        name, _, path = spec.partition("=")
        if not path:
            print(f"--table needs NAME=PATH, got {spec!r}", file=sys.stderr)
            return 2
        if os.path.isdir(os.path.join(path, "_delta_log")):
            tables[name] = DeltaSink(spark, path).to_df()
        else:
            tables[name] = read_parquet(spark, path)
    text = args.query
    if text.startswith("@"):
        with open(text[1:]) as f:
            text = f.read()
    df = kql(spark, text, tables=tables or None)
    if args.format == "table":
        df.show(args.limit, truncate=False)
    elif args.format == "csv":
        import csv as _csv

        wr = _csv.writer(sys.stdout)
        wr.writerow(df.columns)
        for row in df.toLocalIterator():
            wr.writerow(list(row))
    else:
        for row in df.toJSON().toLocalIterator():
            print(row)
    return 0


def bloom_main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        prog="mirror-lake-kusto-spark bloom",
        description="Build or inspect the Bloom point-lookup sidecar "
        "index of a Delta table written by this engine.",
    )
    ap.add_argument("table_path")
    ap.add_argument(
        "--columns",
        help="comma-separated string/integral columns to index "
        "(omit with --stats to inspect only)",
    )
    ap.add_argument("--m", type=int, default=None, help="bits per filter")
    ap.add_argument("--k", type=int, default=None, help="hash count")
    ap.add_argument("--stats", action="store_true",
                    help="print index parameters + coverage and exit")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    from .sources import bloom as B

    if args.stats:
        st = B.bloom_stats(args.table_path)
        print(json.dumps(st) if st else "no bloom index")
        return 0
    if not args.columns:
        print("--columns required to build", file=sys.stderr)
        return 2
    from .session import build_session

    spark = build_session(app_name="mlk-bloom", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    kw = {}
    if args.m:
        kw["m"] = args.m
    if args.k:
        kw["k"] = args.k
    path = B.build_bloom_index(
        spark, args.table_path, args.columns.split(","), **kw
    )
    print(json.dumps(B.bloom_stats(args.table_path)))
    print(f"wrote {path}")
    return 0


def convert_main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        prog="mirror-lake-kusto-spark convert",
        description="CONVERT TO DELTA: author a Delta log in place over "
        "an existing plain-parquet directory (flat or hive-partitioned) "
        "— zero data movement; the table becomes mirrorable.",
    )
    ap.add_argument("table_path")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    from .session import build_session
    from .sources import delta_log as DL
    from .sources.delta_sink import DeltaSink

    spark = build_session(app_name="mlk-convert", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sink = DeltaSink.convert(spark, args.table_path)
    files = DL.snapshot_files(spark, sink.path)
    print(
        json.dumps(
            {
                "files": len(files),
                "partition_by": sink.partition_by,
                "rows": sum(f.get("numRecords") or 0 for f in files),
            }
        )
    )
    return 0


def vacuum_main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        prog="mirror-lake-kusto-spark vacuum",
        description="Delete data files no longer referenced by the "
        "current snapshot and truncate pre-checkpoint commits.  "
        "Time travel past the truncation point stops working — "
        "same contract as Delta's VACUUM.",
    )
    ap.add_argument("table_path")
    ap.add_argument(
        "--retention-hours",
        type=float,
        default=None,
        help="Delta's RETAIN N HOURS: unreferenced files survive "
        "until their tombstone leaves the window (time travel within "
        "it keeps working).  Default: retain nothing — this sink's "
        "historical aggressive mode; pass 168 for Delta's default",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    from .session import build_session
    from .sources.delta_sink import DeltaSink

    spark = build_session(app_name="mlk-vacuum", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    print(
        json.dumps(
            DeltaSink(spark, args.table_path).vacuum(
                retention_hours=args.retention_hours
            )
        )
    )
    return 0


def clone_main(argv: list[str]) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        prog="mirror-lake-kusto-spark clone",
        description="SHALLOW CLONE: zero-copy writable snapshot of a "
        "Delta table (metadata-only; source files referenced by "
        "absolute path).  Vacuuming the SOURCE can break clones.",
    )
    ap.add_argument("source_path")
    ap.add_argument("target_path")
    ap.add_argument("--version", type=int, default=None,
                    help="clone a historical snapshot")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)
    from .session import build_session
    from .sources import delta_log as DL
    from .sources.delta_sink import DeltaSink

    spark = build_session(app_name="mlk-clone", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sink = DeltaSink.shallow_clone(
        spark, args.source_path, args.target_path, version=args.version
    )
    files = DL.snapshot_files(spark, sink.path)
    print(json.dumps({"files": len(files),
                      "rows": sum(f.get("numRecords") or 0 for f in files)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] == "kql":
        return kql_main(argv[1:])
    if argv and argv[0] == "bloom":
        return bloom_main(argv[1:])
    if argv and argv[0] == "convert":
        return convert_main(argv[1:])
    if argv and argv[0] == "vacuum":
        return vacuum_main(argv[1:])
    if argv and argv[0] == "clone":
        return clone_main(argv[1:])
    args = build_parser().parse_args(argv)
    from .pipeline.orchestrate import MirrorPipeline
    from .session import build_session

    spark = build_session(app_name=f"mlk-mirror:{args.table}", cpus=args.cpus)
    if not args.verbose:
        spark.sparkContext.setLogLevel("WARN")
    pipeline = MirrorPipeline(
        spark,
        args.storage,
        args.target,
        args.checkpoint,
        table_name=args.table,
        go_back_days=args.go_back,
        creation_time_expr=args.creation_time,
        creation_time_dialect=args.creation_time_dialect,
        max_items_per_batch=args.max_items_per_batch,
        optimize_target_every=args.optimize_target_every,
        on_schema_change=args.on_schema_change,
    )
    if args.continuous:
        pipeline.run_continuous(
            poll_seconds=args.poll_seconds, max_polls=args.max_polls
        )
        return 0
    results = pipeline.run_until_idle()
    for r in results:
        print(
            f"batch tx [{r['start_tx']}, {r['end_tx']}]: "
            f"{r['adds_staged']} adds staged, "
            f"{r['removes_applied']} remove paths applied"
            + (" (partial)" if r.get("partial") else "")
        )
    if not results:
        print("up-to-date: no pending commits")
    return 0


if __name__ == "__main__":
    sys.exit(main())
