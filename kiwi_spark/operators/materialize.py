"""Stage 5: materialize nodes/edges/mentions.

* entity-hash bucketing: outputs carry a bucket column
  ``bucket = pmod(xxhash64(id), n_buckets)`` and are repartitioned by it,
  so all rows of one bucket land in the same output file (nodes are also
  sorted by ``compact_key`` within each file for tight row-group stats).
  The tables are committed without a ``partition_by`` spec: ``bucket`` is
  a plain data column, not a hive partition directory, so readers get no
  partition pruning from it — only the write clustering.
* deterministic embeddings (L13 substitute): hashing-TF of the description
  into a 64-dim float array via one Arrow-vectorized pandas UDF — used by
  query-side ranking (plans.queries) and similarity ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, FloatType

from .build_graph import bucket_col

EMBEDDING_DIM = 64


@F.pandas_udf(ArrayType(FloatType()))
def embed_text(texts: pd.Series) -> pd.Series:
    """Deterministic hashing-TF embedding, L2-normalized.

    Token → (bucket, sign) is memoized per Arrow batch (corpus vocabularies
    are tiny relative to row counts), so the hot loop is one dict hit +
    one numpy add per token."""
    out = []
    cache: dict[str, tuple[int, float]] = {}
    for text in texts:
        vec = np.zeros(EMBEDDING_DIM, dtype=np.float32)
        for token in (text or "").upper().split():
            hit = cache.get(token)
            if hit is None:
                h = hash_token(token)
                hit = (h % EMBEDDING_DIM, 1.0 if (h >> 7) % 2 == 0 else -1.0)
                cache[token] = hit
            vec[hit[0]] += hit[1]
        norm = float(np.linalg.norm(vec))
        if norm > 0:
            vec /= norm
        out.append(vec.tolist())
    return pd.Series(out)


def hash_token(token: str) -> int:
    """FNV-1a 32-bit — stable across processes (unlike Python hash())."""
    h = 0x811C9DC5
    for byte in token.encode("utf-8"):
        h = ((h ^ byte) * 0x01000193) & 0xFFFFFFFF
    return h


def compact_key_col(name_col: str = "name"):
    """JVM-side twin of functions.linking.compact_name_key (the L12
    cross-file key, apps/worker/lib/sql.ts:16-22) — pure string algebra,
    runs inside whole-stage codegen."""
    return F.upper(
        F.regexp_replace(
            F.regexp_replace(F.col(name_col), "&", " AND "), r"[^\p{L}\p{N}]+", ""
        )
    )


def materialize_nodes(nodes: DataFrame, n_buckets: int = 32) -> DataFrame:
    """entity-hash bucketed; ``compact_key`` is materialized JVM-side so
    name point-lookups are pushed parquet filters with tight row-group
    stats (sorted within partitions), zero Python stages."""
    return (
        nodes.withColumn("embedding", embed_text("description"))
        .withColumn("compact_key", compact_key_col("name"))
        .withColumn("bucket", bucket_col("entity_id", n_buckets))
        .repartition("bucket")
        .sortWithinPartitions("compact_key")
    )


def materialize_edges(edges: DataFrame, n_buckets: int = 32) -> DataFrame:
    return (
        edges.withColumn("embedding", embed_text("description"))
        .withColumn("bucket", bucket_col("src_id", n_buckets))
        .repartition("bucket")
    )


def materialize_mentions(mentions: DataFrame, n_buckets: int = 32) -> DataFrame:
    # edge mentions have entity_id NULL — bucket by whichever id is set so
    # they hash-distribute instead of piling into a NULL bucket (skew) and
    # edge-mention lookups prune too.
    return (
        mentions.withColumn("embedding", embed_text("description"))
        .withColumn(
            "bucket",
            bucket_col(F.coalesce(F.col("entity_id"), F.col("edge_id")), n_buckets),
        )
        .repartition("bucket")
    )
