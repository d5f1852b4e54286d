"""Measured evidence for VERDICT r4 #1: incremental relink cost scales
with the BATCH, not the warehouse.

Usage (spark-submit):
    spark-submit ... tools/delta_scale_bench.py \
        --warehouse /tmp/wh_100k --batch-start 400000 --batch-size 2000

Appends the same deterministic 2k-page batch (pages_df indices
[start, start+size) — disjoint urls under seed 42) to the given
warehouse via incremental_add and prints one JSON line with the relink
stage timings and touched counts. Run against a 100k and a 400k
warehouse: O(new + touched) predicts near-identical relink walls and
touched counts that depend on key overlap, not corpus size."""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--warehouse", required=True)
    parser.add_argument("--batch-start", type=int, default=400000)
    parser.add_argument("--batch-size", type=int, default=2000)
    parser.add_argument("--link-mode", default="parity")
    parser.add_argument("--seed", type=int, default=42, help="page-world seed; a different seed gives a mostly-disjoint entity world (partial key overlap) — the batch-proportional case")
    args = parser.parse_args()

    from kiwi_spark.pipeline import incremental_add
    from kiwi_spark.session import engine_builder
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df

    spark = engine_builder("delta-scale-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    cat = Catalog(args.warehouse)
    n_total = cat.read(spark, "id_map").count()
    batch = pages_df(spark, args.batch_size, start=args.batch_start, seed=args.seed)
    result = incremental_add(
        spark, batch, args.warehouse, link_mode=args.link_mode
    )
    print(
        json.dumps(
            {
                "warehouse": args.warehouse,
                "warehouse_entities": n_total,
                "batch_pages": args.batch_size,
                "batch_seed": args.seed,
                "stages_run": result.stages_run,
                "timings": result.timings,
                "touched_entities": result.counts.get("touched_entities"),
                "touched_doc_edges": result.counts.get("touched_doc_edges"),
                "nodes": result.counts.get("nodes"),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
