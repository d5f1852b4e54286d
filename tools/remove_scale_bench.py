"""Measured evidence for the round-6 removal path: incremental_remove
cost scales with (removed + touched), not the warehouse.

Usage (spark-submit, against a warehouse built with --synthesize N seed 42):
    spark-submit ... tools/remove_scale_bench.py \
        --warehouse /tmp/wh_400k --remove-start 0 --remove-size 2000

Removes the urls of pages_df indices [start, start+size) and prints one
JSON line with the removal stage timings and touched counts. Run against
warehouses of different sizes: O(removed + touched) predicts walls that
track the removed slice's entity/group footprint, not the corpus size.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--warehouse", required=True)
    parser.add_argument("--remove-start", type=int, default=0)
    parser.add_argument("--remove-size", type=int, default=2000)
    parser.add_argument("--seed", type=int, default=42)
    args = parser.parse_args()

    from kiwi_spark.pipeline import incremental_remove
    from kiwi_spark.session import engine_builder
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df

    spark = engine_builder("remove-scale-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    cat = Catalog(args.warehouse)
    n_total = cat.read(spark, "id_map").count()
    urls = pages_df(
        spark, args.remove_size, start=args.remove_start, seed=args.seed
    ).select("url")
    result = incremental_remove(spark, urls, args.warehouse)
    print(
        json.dumps(
            {
                "warehouse": args.warehouse,
                "warehouse_entities": n_total,
                "removed_pages": args.remove_size,
                "stages_run": result.stages_run,
                "timings": result.timings,
                "removed_entities": result.counts.get("removed_entities"),
                "touched_entities": result.counts.get("touched_entities"),
                "touched_doc_edges": result.counts.get("touched_doc_edges"),
                "nodes": result.counts.get("nodes"),
                "edges": result.counts.get("edges"),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
