"""Pre-indexed ranked search — the GIN analog (VERDICT r3 #4).

The reference's Postgres backend amortizes ranked entity/relationship
search with a pg_trgm GIN index (keyword leg) and a DiskANN index
(semantic leg) over the graph tables (packages/db, graph.ts:227-228).
The round-3 engine was faithful to the *semantics* but re-scanned every
active row per query through a pandas-UDF trigram scorer. This module
materializes the keyword leg's index Spark-first as a **trigram posting
table** (``build_trigram_index``): one row per (id, field, gram) with the
field's total gram count, written sorted by gram so a query's
``gram IN (...)`` probe is a pushed parquet filter. pg_trgm similarity is
then EXACT from the probe alone:
``sim(value, term) = hits / (n_grams + |G(term)| - hits)`` because the
probe rows for a term are precisely the intersection. The posting rows
are built with the same Python ``_trigrams`` twin the full-scan scorer
uses, so index and scan agree bit-for-bit.

The semantic leg has no index table: it scores ``embedding`` on the
nodes/edges frame the query joins anyway, with the same ``cosine_to``
expression the full-scan scorer uses. An ANN index pays only when a probe
skips most of the corpus; ``operators.similarity`` holds the cell-pruned
ANN operator to route to once such a crossover is measured.

Query-time decomposition (exact, not heuristic): every entity outside
the trigram candidate set shares no gram with any term, so its keyword
similarity is 0 — and exact/prefix boosts imply a shared leading gram —
hence its score is purely semantic. The final top-k is therefore the
top-k of (fully-scored trigram candidates) ∪ (semantic top-``limit`` of
the rest). Terms whose gram set is empty (no alphanumerics) can still
exact/prefix-match, so they contribute a pushed-filter candidate leg.

The indexed query plan contains ZERO Python stages — posting probe,
conditional aggregation, cosine, boosts and top-k all run JVM-side in
whole-stage codegen (the full-scan path needed one pandas UDF per query).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from .queries import (
    KEYWORD_WEIGHT,
    MIN_KEYWORD_BOOST,
    MIN_SEMANTIC_SCORE,
    _edges_with_names,
    _exact_boost,
    _keyset,
    _rel_exact_boost,
    _trigrams,
    cosine_to,
    embed_query,
    unique_terms,
)


@F.pandas_udf(ArrayType(StringType()))
def _trigram_set_udf(values: pd.Series) -> pd.Series:
    """Distinct pg_trgm-style trigrams per value — the exact Python twin of
    the query-side scorer (build-time only; query plans stay Python-free)."""
    return pd.Series([sorted(_trigrams(v or "")) for v in values])


def build_trigram_index(df: DataFrame, id_col: str,
                        fields: dict[str, str],
                        n_partitions: int | None = None,
                        write_layout: bool = True) -> DataFrame:
    """Posting table (id, field, gram, n_grams) over one or more text
    columns. Write-ready by default: repartitioned by gram and sorted
    within partitions so parquet row-group stats prune ``gram IN (...)``
    probes. Pass ``write_layout=False`` for ephemeral in-memory probes
    (e.g. a build-then-query in one plan), where the clustering
    shuffle+sort buys nothing — the probe filter is evaluated on the
    unsorted posting anyway (r7)."""
    parts = []
    for field_name, col in fields.items():
        grams = df.select(
            F.col(id_col).alias("id"),
            F.lit(field_name).alias("field"),
            _trigram_set_udf(F.col(col)).alias("_grams"),
        )
        parts.append(
            grams.select(
                "id",
                "field",
                F.explode("_grams").alias("gram"),
                F.size("_grams").alias("n_grams"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if not write_layout:
        return out
    n = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    return out.repartition(n, "gram").sortWithinPartitions("gram")


def _kw_from_posting(posting: DataFrame, terms: list[str]) -> DataFrame:
    """(id, kw) for every id sharing ≥1 gram with ≥1 term: kw = max over
    (term, field) of exact pg_trgm similarity, all JVM-side."""
    term_grams = [sorted(_trigrams(t)) for t in terms]
    term_grams = [tg for tg in term_grams if tg]
    if not term_grams:
        spark = posting.sparkSession
        return spark.createDataFrame([], "id string, kw double")
    all_grams = sorted(set().union(*term_grams))
    probed = posting.where(F.col("gram").isin(all_grams))
    counts = [
        F.sum(
            F.when(F.col("gram").isin(tg), F.lit(1)).otherwise(F.lit(0))
        ).alias(f"_c{i}")
        for i, tg in enumerate(term_grams)
    ]
    per_field = probed.groupBy("id", "field", "n_grams").agg(*counts)
    sims = [
        F.col(f"_c{i}")
        / (F.col("n_grams") + F.lit(len(tg)) - F.col(f"_c{i}")).cast("double")
        for i, tg in enumerate(term_grams)
    ]
    kw = F.greatest(*sims) if len(sims) > 1 else sims[0]
    return (
        per_field.select("id", kw.alias("_kw_f"))
        .groupBy("id")
        .agg(F.max("_kw_f").alias("kw"))
    )


def _gramless_candidates(base: DataFrame, id_col: str, terms: list[str],
                         name_cols: list[str]) -> DataFrame | None:
    """Terms with no alphanumerics can't hit the posting table but can still
    exact/prefix-match a name — cover them with a pushed filter."""
    gramless = [t for t in terms if not _trigrams(t)]
    if not gramless:
        return None
    cond = F.lit(False)
    for t in gramless:
        lt = t.lower()
        for col in name_cols:
            low = F.lower(F.coalesce(F.col(col), F.lit("")))
            cond = cond | (low == lt) | low.startswith(lt)
    return base.where(cond).select(F.col(id_col).alias("id"))


def _score_and_topk(scored: DataFrame, cand_ids: DataFrame, base: DataFrame,
                    query_vec: list[float], out_cols: list[str], id_col: str,
                    limit: int, cursor: tuple | None) -> DataFrame:
    """Union the two legs, keyset-filter, global top-k.

    The semantic leg scores every ``base`` row outside the CANDIDATE id
    set (not the scored subtree): candidates that failed the recall
    filter have sem < MIN_SEMANTIC_SCORE by definition, so excluding them
    from the semantic leg too cannot change the result."""
    sem_only = (
        base.join(cand_ids.withColumnRenamed("id", id_col), id_col, "left_anti")
        .withColumn("score", F.greatest(F.lit(0.0), cosine_to(query_vec, "embedding")))
        .where(F.col("score") >= MIN_SEMANTIC_SCORE)
    )
    sem_only = _keyset(sem_only, cursor, "score", id_col)
    # only the top-`limit` pure-semantic rows can enter the final top-k
    sem_rows = (
        sem_only.orderBy(F.desc("score"), F.asc(id_col)).limit(limit).select(*out_cols)
    )
    cand_rows = _keyset(scored, cursor, "score", id_col).select(*out_cols)
    return (
        cand_rows.unionByName(sem_rows)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(limit)
    )


def search_entities_indexed(nodes: DataFrame, posting: DataFrame,
                            query_text: str, limit: int = 10,
                            cursor: tuple | None = None,
                            keywords: list[str] | None = None) -> DataFrame:
    """Index-probing twin of ``queries.search_entities`` — identical
    results; the keyword scores come from the posting probe instead of a
    per-row Python scorer."""
    terms = unique_terms([*(keywords or []), query_text])
    if not terms:
        return nodes.sparkSession.createDataFrame(
            [],
            "entity_id string, name string, type string, description string, "
            "n_sources long, score double",
        )
    qvec = embed_query(query_text)

    kw_df = _kw_from_posting(posting, terms)
    cand_ids = kw_df.select("id")
    extra = _gramless_candidates(nodes, "entity_id", terms, ["name"])
    if extra is not None:
        cand_ids = cand_ids.unionByName(extra).distinct()
    cand = (
        nodes.join(cand_ids.withColumnRenamed("id", "entity_id"), "entity_id")
        .join(kw_df.withColumnRenamed("id", "entity_id"), "entity_id", "left")
        .withColumn("_kw", F.coalesce(F.col("kw"), F.lit(0.0)))
        .withColumn("_sem", F.greatest(F.lit(0.0), cosine_to(qvec, "embedding")))
        .withColumn("_exact", _exact_boost(terms, "name"))
        .withColumn(
            "score",
            F.col("_sem") + F.lit(KEYWORD_WEIGHT) * F.col("_kw") + F.col("_exact"),
        )
        .where(
            (F.col("_sem") >= MIN_SEMANTIC_SCORE)
            | (F.col("_kw") >= MIN_KEYWORD_BOOST)
            | (F.col("_exact") > 0)
        )
    )
    out_cols = ["entity_id", "name", "type", "description", "n_sources", "score"]
    return _score_and_topk(
        cand, cand_ids, nodes, qvec, out_cols, "entity_id", limit, cursor
    )


def search_relationships_indexed(edges: DataFrame, nodes: DataFrame,
                                 posting: DataFrame, query_text: str,
                                 limit: int = 10, cursor: tuple | None = None,
                                 keywords: list[str] | None = None) -> DataFrame:
    """Index-probing twin of ``queries.search_relationships``. The posting
    table must cover fields description/src_name/dst_name (see
    ``build_relationship_search_index``)."""
    terms = unique_terms([*(keywords or []), query_text])
    if not terms:
        return edges.sparkSession.createDataFrame(
            [],
            "edge_id string, src_id string, src_name string, dst_id string, "
            "dst_name string, pred string, description string, "
            "strength double, score double",
        )
    qvec = embed_query(query_text)
    named = _edges_with_names(edges, nodes)

    kw_df = _kw_from_posting(posting, terms)
    cand_ids = kw_df.select("id")
    extra = _gramless_candidates(
        named, "edge_id", terms, ["src_name", "dst_name"]
    )
    if extra is not None:
        cand_ids = cand_ids.unionByName(extra).distinct()
    cand = (
        named.join(cand_ids.withColumnRenamed("id", "edge_id"), "edge_id")
        .join(kw_df.withColumnRenamed("id", "edge_id"), "edge_id", "left")
        .withColumn("_kw", F.coalesce(F.col("kw"), F.lit(0.0)))
        .withColumn("_sem", F.greatest(F.lit(0.0), cosine_to(qvec, "embedding")))
        .withColumn("_exact", _rel_exact_boost(terms, "src_name", "dst_name"))
        .withColumn(
            "score",
            F.col("_sem") + F.lit(KEYWORD_WEIGHT) * F.col("_kw") + F.col("_exact"),
        )
        .where(
            (F.col("_sem") >= MIN_SEMANTIC_SCORE)
            | (F.col("_kw") >= MIN_KEYWORD_BOOST)
            | (F.col("_exact") > 0)
        )
    )
    out_cols = [
        "edge_id", "src_id", "src_name", "dst_id", "dst_name", "pred",
        "description", "strength", "score",
    ]
    return _score_and_topk(
        cand, cand_ids, named, qvec, out_cols, "edge_id", limit, cursor
    )


def build_entity_search_index(nodes: DataFrame) -> DataFrame:
    """Posting table for ``search_entities_indexed`` — call at
    materialize time over the canonical nodes table."""
    return build_trigram_index(nodes, "entity_id", {"name": "name"})


def build_relationship_search_index(edges: DataFrame,
                                    nodes: DataFrame) -> DataFrame:
    """Posting table for ``search_relationships_indexed``."""
    return build_trigram_index(
        _edges_with_names(edges, nodes),
        "edge_id",
        {"description": "description", "src_name": "src_name",
         "dst_name": "dst_name"},
    )


# --------------------------------------------------------------------------
# auto-routing (VERDICT r4 #7): serve from the index when it exists
# --------------------------------------------------------------------------

SEARCH_INDEX_TABLES = ("entity_trigrams", "edge_trigrams")


def has_search_index(cat) -> bool:
    """True iff both posting tables are committed in the warehouse."""
    return all(cat.exists(t) for t in SEARCH_INDEX_TABLES)


def search_entities_auto(spark, cat, nodes: DataFrame, query_text: str,
                         limit: int = 10, cursor: tuple | None = None,
                         keywords: list[str] | None = None) -> DataFrame:
    """Q2 with automatic index routing: probe the trigram posting tables
    when the warehouse has them (result-identical), fall back to the
    full-scan scorer otherwise — the same transparent behavior a Postgres
    planner gives the reference's GIN index (graph.ts:227-228)."""
    if has_search_index(cat):
        return search_entities_indexed(
            nodes, cat.read(spark, "entity_trigrams"), query_text,
            limit=limit, cursor=cursor, keywords=keywords,
        )
    from .queries import search_entities

    return search_entities(
        nodes, query_text, limit=limit, cursor=cursor, keywords=keywords
    )


def search_relationships_auto(spark, cat, edges: DataFrame, nodes: DataFrame,
                              query_text: str, limit: int = 10,
                              cursor: tuple | None = None,
                              keywords: list[str] | None = None) -> DataFrame:
    """Q4 with automatic index routing (see ``search_entities_auto``)."""
    if has_search_index(cat):
        return search_relationships_indexed(
            edges, nodes, cat.read(spark, "edge_trigrams"), query_text,
            limit=limit, cursor=cursor, keywords=keywords,
        )
    from .queries import search_relationships

    return search_relationships(
        edges, nodes, query_text, limit=limit, cursor=cursor, keywords=keywords
    )
