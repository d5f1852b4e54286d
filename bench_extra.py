"""Auxiliary benchmarks (guide §1.4): noop-sink isolation per query plus
stage-level breakdowns for the expensive operators. bench.py is FROZEN for
driver measurement; this file is where optimization-round evidence comes
from (cited in OPTIMIZATION_r07.md).

Usage:
  python bench_extra.py [query ...]          # noop-sink wall per query
  python bench_extra.py --stages minhash     # stage breakdown
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from kiwi_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_volume",
    "top_orders_per_customer",
    "events_hourly",
    "user_sessions",
    "dedup_minhash_docs",
    "dedup_simhash_docs",
    "lang_id_docs",
    "text_quality_docs",
    "doc_fingerprints",
    "similarity_topk",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def stage_minhash(spark, sf_dir):
    """Per-stage walls of the MinHash-LSH pipeline (all noop-sunk)."""
    from pyspark.sql import functions as F

    from kiwi_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {}

    sc = spark.sparkContext
    t0 = time.time()
    sc.setJobDescription("minhash: shingle projection")
    sh = dedup._spread(docs).select(
        F.col("doc_id"), dedup._shingles(3, "text").alias("shingles")
    )
    _noop(sh)
    out["shingles"] = round(time.time() - t0, 3)

    t0 = time.time()
    sc.setJobDescription("minhash: band-key kernel")
    _noop(dedup._band_rows(sh, dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_BANDS))
    out["band_keys"] = round(time.time() - t0, 3)

    t0 = time.time()
    sc.setJobDescription("minhash: full pipeline")
    pairs = dedup.minhash_lsh_pairs(docs, n=3, threshold=0.7)
    _noop(pairs)
    out["full"] = round(time.time() - t0, 3)
    sc.setJobDescription(None)
    return out


def stage_simhash(spark, sf_dir):
    from pyspark.sql import functions as F

    from kiwi_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {}
    sc = spark.sparkContext
    t0 = time.time()
    sc.setJobDescription("simhash: fingerprints")
    fp = dedup._spread(docs).select(
        F.col("doc_id"), dedup.simhash64(F.col("text")).alias("fp")
    )
    _noop(fp)
    out["fingerprints"] = round(time.time() - t0, 3)

    t0 = time.time()
    sc.setJobDescription("simhash: full pipeline")
    _noop(dedup.simhash_pairs(docs, max_hamming=3))
    out["full"] = round(time.time() - t0, 3)
    sc.setJobDescription(None)
    return out


STAGES = {"minhash": stage_minhash, "simhash": stage_simhash}


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("kiwi-bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus), 16))
    spark.sparkContext.setLogLevel("ERROR")
    from tools.make_bench_sf import ensure

    sf_dir = ensure(spark, os.environ.get("SPARK_GRAFT_BENCH_DIR",
                                          "/tmp/kiwi_bench_sf1"))

    args = sys.argv[1:]
    if args and args[0] == "--stages":
        which = args[1] if len(args) > 1 else "minhash"
        print(json.dumps({which: STAGES[which](spark, sf_dir)}))
        spark.stop()
        return 0

    names = args or HEADLINE
    queries = entrymod.queries()
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    result = {}
    for name in names:
        fn = queries[name]
        _noop(fn(spark, sf_dir))  # warmup
        walls = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            _noop(fn(spark, sf_dir))
            walls.append(time.time() - t0)
        walls.sort()
        result[name] = {
            "median": round(walls[len(walls) // 2], 3),
            "min": round(walls[0], 3),
            "max": round(walls[-1], 3),
        }
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
