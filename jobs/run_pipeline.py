"""spark-submit entrypoint: run the KG-construction pipeline.

Usage:
    spark-submit [--master local[N]] \
        --conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 \
        jobs/run_pipeline.py \
        --input <dir-with-pages.parquet> | --synthesize N \
        --warehouse <out-dir> [--link-mode parity|fuzzy] [--resume] \
        [--seed 42] [--buckets 32]

Prints one JSON line with stage timings, row counts and triples/sec.

The ``--conf`` keeps the one-shot driver JVM at HotSpot's C1 tier (see
``kiwi_spark.session``). spark-submit starts the JVM before this script
runs, so the session config's copy of the option only applies when the
script is started with plain ``python``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kiwi_spark.pipeline import run_pipeline
from kiwi_spark.session import engine_builder
from kiwi_spark.sources.pages import pages_df


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", help="directory containing pages.parquet")
    parser.add_argument("--synthesize", type=int, help="generate N synthetic pages")
    parser.add_argument("--warehouse", required=True)
    parser.add_argument(
        "--link-mode", choices=["parity", "fuzzy"], default="parity",
        help="a mutation of an existing warehouse must pass its recorded "
             "mode (--remove reads it)",
    )
    parser.add_argument("--resume", action="store_true")
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument(
        "--buckets", type=int, default=32,
        help="bucket count of a warehouse this run creates; an existing "
             "warehouse keeps its recorded count",
    )
    parser.add_argument("--shuffle-partitions", type=int, default=None)
    parser.add_argument(
        "--search-index", action="store_true",
        help="also materialize the ranked-search index tables "
             "(entity/edge trigram postings)",
    )
    parser.add_argument(
        "--incremental", action="store_true",
        help="fold the input pages into an EXISTING warehouse via the "
             "delta relink (incremental_add) instead of a full run — the "
             "reference's per-file operating mode",
    )
    parser.add_argument(
        "--start", type=int, default=0,
        help="with --synthesize + --incremental: index offset of the "
             "batch (disjoint ranges under one seed ⇒ disjoint urls)",
    )
    parser.add_argument(
        "--remove", action="store_true",
        help="REMOVE the given pages' urls from an existing warehouse "
             "(the reference's delete-file workflow): masks their doc "
             "rows and recomputes only the touched canonical groups",
    )
    parser.add_argument(
        "--update", action="store_true",
        help="REPLACE the given pages in an existing warehouse (the "
             "reference's re-upload flow): remove their urls, then "
             "ingest the new content incrementally",
    )
    parser.add_argument(
        "--stream-dir",
        help="continuous-ingestion mode: drain page parquet files "
             "arriving in this directory into the warehouse via "
             "Structured Streaming (foreachBatch → delta relink), "
             "availableNow trigger (process the backlog, then exit)",
    )
    parser.add_argument(
        "--checkpoint",
        help="streaming checkpoint location (default: "
             "<warehouse>/_stream_checkpoint)",
    )
    parser.add_argument(
        "--on-conflict", choices=["update", "skip", "error"],
        default="update",
        help="with --stream-dir: what to do when arriving urls already "
             "exist in the warehouse (update = replace the documents, "
             "skip = drop them, error = fail the query)",
    )
    args = parser.parse_args()

    if not args.input and not args.synthesize and not args.stream_dir:
        parser.error("one of --input / --synthesize / --stream-dir is required")

    spark = engine_builder("kiwi-kg-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    else:
        # size the shuffle to the cluster unless the user pinned it
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(2 * spark.sparkContext.defaultParallelism),
        )

    # mode validation BEFORE any mode executes: --stream-dir combined
    # with another mode must be rejected, not silently stream-and-ignore
    if args.stream_dir and (
        args.remove or args.update or args.incremental or args.resume
        or args.input or args.synthesize
    ):
        parser.error("--stream-dir is its own ingestion mode; it cannot "
                     "be combined with --input/--synthesize/--remove/"
                     "--update/--incremental/--resume")
    if args.incremental and args.resume:
        parser.error("--incremental batches are retry-idempotent by "
                     "batch id; --resume only applies to full runs")
    if (args.remove or args.update) and (args.incremental or args.resume):
        parser.error("--remove/--update are their own batch kinds "
                     "(retry-idempotent); combine with --input/"
                     "--synthesize only")
    if args.remove and args.update:
        parser.error("--remove and --update are mutually exclusive")

    if args.stream_dir:
        pages = None
    elif args.input:
        pages = spark.read.parquet(os.path.join(args.input, "pages.parquet"))
    else:
        pages = pages_df(spark, args.synthesize, seed=args.seed, start=args.start)

    started = time.time()
    if args.stream_dir:
        from kiwi_spark.pipeline import PipelineResult
        from kiwi_spark.sources.catalog import Catalog
        from kiwi_spark.streaming.ingest import stream_ingest

        stream_ingest(
            spark, args.stream_dir, args.warehouse,
            args.checkpoint
            or os.path.join(args.warehouse, "_stream_checkpoint"),
            link_mode=args.link_mode, n_buckets=args.buckets,
            on_conflict=args.on_conflict,
        )
        cat = Catalog(args.warehouse)
        result = PipelineResult(warehouse=args.warehouse)
        result.stages_run = ["stream_ingest"]
        for table in ("nodes", "edges", "mentions"):
            if cat.exists(table):
                result.counts[table] = cat.row_count(spark, table)
    elif args.remove:
        from kiwi_spark.pipeline import incremental_remove

        result = incremental_remove(spark, pages.select("url"), args.warehouse)
    elif args.update:
        from kiwi_spark.pipeline import incremental_update

        result = incremental_update(
            spark,
            pages,
            args.warehouse,
            link_mode=args.link_mode,
            n_buckets=args.buckets,
        )
    elif args.incremental:
        from kiwi_spark.pipeline import _commit_search_index, incremental_add
        from kiwi_spark.sources.catalog import Catalog

        result = incremental_add(
            spark,
            pages,
            args.warehouse,
            link_mode=args.link_mode,
            n_buckets=args.buckets,
        )
        # incremental maintains an existing index; --search-index on an
        # unindexed (or partially indexed) warehouse means "index it now"
        from kiwi_spark.plans.search_index import has_search_index

        cat = Catalog(args.warehouse)
        if args.search_index and not has_search_index(cat):
            t0 = time.time()
            _commit_search_index(cat, spark)
            result.timings["search_index"] = round(time.time() - t0, 3)
            result.stages_run.append("search_index")
    else:
        result = run_pipeline(
            spark,
            pages,
            args.warehouse,
            link_mode=args.link_mode,
            n_buckets=args.buckets,
            resume=args.resume,
            build_search_index=args.search_index,
        )
    wall = time.time() - started

    n_edges = result.counts.get("edges", 0)
    print(
        json.dumps(
            {
                "wall_seconds": round(wall, 2),
                "stages_run": result.stages_run,
                "stages_skipped": result.stages_skipped,
                "timings": result.timings,
                "counts": result.counts,
                "triples_per_sec": round(n_edges / wall, 2) if wall > 0 else None,
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
