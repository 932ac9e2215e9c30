"""spark-submit entrypoint.

Ships per the north rule as::

    spark-submit --py-files $(python -c 'from spel_spark.session import \
        package_zip; print(package_zip())') -m spel_spark.cli \
        run --input /path/transcripts --output /path/out

(in local dev simply ``python -m spel_spark.cli ...``).

Subcommands:
  run          full ER pipeline over a transcripts parquet path
               with checkpointed stages + resume (default) under --output
  incremental  merge new transcript files into existing cluster state
               (streaming foreachBatch; the operational O(delta) mode —
               current delta-vs-recompute walls: BENCH/INCREMENTAL.json)
  lineage      print the lineage table of a checkpoint store
"""

from __future__ import annotations

import argparse
import sys


def _cmd_run(args: argparse.Namespace) -> int:
    from spel_spark.io import CheckpointStore
    from spel_spark.pipeline import PipelineConfig, run_pipeline
    from spel_spark.session import get_spark

    spark = get_spark(app_name="spel_spark_run")
    transcripts = spark.read.parquet(args.input)
    redirects = spark.read.parquet(args.redirects) if args.redirects else None
    store = CheckpointStore(spark, args.output)
    cfg = PipelineConfig(
        threshold=args.threshold,
        exact_pairs=args.exact_pairs,
    )
    clusters = run_pipeline(
        spark, transcripts, store, redirects=redirects, config=cfg,
        resume=not args.no_resume,
    )
    n = clusters.count()
    k = clusters.select("cluster_id").distinct().count()
    print(f"clusters: {n} mentions in {k} clusters -> {args.output}/clusters")
    return 0


def _cmd_incremental(args: argparse.Namespace) -> int:
    from spel_spark.session import get_spark
    from spel_spark.streaming.incremental import (
        NoClusterState,
        read_clusters,
        start_incremental_er,
    )

    spark = get_spark(app_name="spel_spark_incremental")
    redirects = spark.read.parquet(args.redirects) if args.redirects else None
    q = start_incremental_er(
        spark,
        source_path=args.input,
        state_dir=args.state,
        checkpoint_path=args.checkpoint or f"{args.state}/_stream_checkpoint",
        redirects=redirects,
        threshold=args.threshold,
    )
    q.awaitTermination()
    try:
        clusters = read_clusters(spark, args.state)
    except NoClusterState:
        # zero batches drained AND no committed state (virgin dir, or
        # only an uncommitted begin-record from a crashed first epoch):
        # report cleanly instead of a trace.  A corrupt state dir raises.
        print(f"no data processed; no cluster state at {args.state}/clusters")
        return 0
    n = clusters.count()
    k = clusters.select("cluster_id").distinct().count()
    print(f"clusters: {n} mentions in {k} clusters -> {args.state}/clusters")
    return 0


def _cmd_lineage(args: argparse.Namespace) -> int:
    from spel_spark.io import CheckpointStore
    from spel_spark.session import get_spark

    spark = get_spark(app_name="spel_spark_lineage")
    store = CheckpointStore(spark, args.output)
    store.read_lineage().orderBy("wall_ts").show(200, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    from spel_spark.operators.scoring import DEFAULT_THRESHOLD

    p = argparse.ArgumentParser(prog="spel_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run the ER pipeline")
    r.add_argument("--input", required=True, help="transcripts parquet path")
    r.add_argument("--output", required=True, help="checkpoint store dir")
    r.add_argument("--redirects", default=None, help="redirects parquet path")
    r.add_argument("--threshold", type=float, default=DEFAULT_THRESHOLD)
    r.add_argument("--exact-pairs", action="store_true",
                   help="exact all-pairs blocking (default: anchor-sparsified)")
    r.add_argument("--no-resume", action="store_true",
                   help="recompute every stage even if checkpointed")
    r.set_defaults(fn=_cmd_run)

    inc = sub.add_parser(
        "incremental", help="merge new transcript files into cluster state"
    )
    inc.add_argument("--input", required=True, help="transcripts source dir")
    inc.add_argument("--state", required=True, help="incremental state dir")
    inc.add_argument("--checkpoint", default=None,
                     help="streaming checkpoint (default: <state>/_stream_checkpoint)")
    inc.add_argument("--redirects", default=None)
    inc.add_argument("--threshold", type=float, default=DEFAULT_THRESHOLD)
    inc.set_defaults(fn=_cmd_incremental)

    li = sub.add_parser("lineage", help="show per-stage lineage rows")
    li.add_argument("--output", required=True)
    li.set_defaults(fn=_cmd_lineage)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
