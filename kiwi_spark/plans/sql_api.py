"""Spark SQL surface over the materialized graph tables.

north_star: "answers kiwi's graph queries … as Spark SQL over the
materialized Iceberg graph tables". plans.queries is the DataFrame API;
this module registers the warehouse as temp views and exposes the same
operators as parameterized ANSI SQL — for users who live in spark.sql().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import Catalog

GRAPH_TABLES = ("nodes", "edges", "mentions", "units", "text")


def _q(value: str) -> str:
    """SQL string-literal escape for interpolated values (doubles single
    quotes) — every user-supplied value below goes through this."""
    return str(value).replace("'", "''")


def register_graph_views(spark: SparkSession, warehouse: str,
                         prefix: str = "kg_") -> list[str]:
    """Register kg_nodes / kg_edges / … temp views over the warehouse —
    plus the two trigram posting tables when the warehouse has them
    (kg_entity_trigrams, kg_edge_trigrams), so SQL users can probe
    postings directly."""
    from .search_index import SEARCH_INDEX_TABLES

    cat = Catalog(warehouse)
    registered = []
    for table in (*GRAPH_TABLES, *SEARCH_INDEX_TABLES):
        if cat.exists(table):
            cat.read(spark, table).createOrReplaceTempView(prefix + table)
            registered.append(prefix + table)
    return registered


def search_entities(spark: SparkSession, warehouse: str, query_text: str,
                    limit: int = 10, keywords: list[str] | None = None) -> DataFrame:
    """Q2 from the SQL surface with automatic index routing: probes the
    trigram posting tables when the warehouse has them (result-identical),
    full-scan otherwise — mirroring how the reference's Postgres planner
    transparently uses its GIN index."""
    from .search_index import search_entities_auto

    cat = Catalog(warehouse)
    return search_entities_auto(
        spark, cat, cat.read(spark, "nodes"), query_text,
        limit=limit, keywords=keywords,
    )


def search_relationships(spark: SparkSession, warehouse: str, query_text: str,
                         limit: int = 10,
                         keywords: list[str] | None = None) -> DataFrame:
    """Q4 from the SQL surface with automatic index routing."""
    from .search_index import search_relationships_auto

    cat = Catalog(warehouse)
    return search_relationships_auto(
        spark, cat, cat.read(spark, "edges"), cat.read(spark, "nodes"),
        query_text, limit=limit, keywords=keywords,
    )


def entity_by_name_sql(name_norm: str, prefix: str = "kg_") -> str:
    """Exact lookup on the materialized ``compact_key`` column (L12 key) —
    a pushed-down equality filter, no per-row recompute."""
    return f"""
        SELECT entity_id, name, type, description, n_sources
        FROM {prefix}nodes
        WHERE compact_key = '{_q(name_norm)}'
        ORDER BY entity_id
    """


def neighbours_sql(entity_id: str, limit: int = 50, prefix: str = "kg_") -> str:
    """Q6 as one SQL statement (tools/relationship.ts:327-398 semantics)."""
    return f"""
        SELECT n.entity_id, n.name, n.type, e.edge_id, e.pred, e.strength
        FROM {prefix}edges e
        JOIN {prefix}nodes n
          ON n.entity_id = CASE WHEN e.src_id = '{_q(entity_id)}'
                                THEN e.dst_id ELSE e.src_id END
        WHERE e.src_id = '{_q(entity_id)}' OR e.dst_id = '{_q(entity_id)}'
        ORDER BY n.entity_id
        LIMIT {int(limit)}
    """


def top_entities_sql(limit: int = 20, prefix: str = "kg_") -> str:
    return f"""
        SELECT entity_id, name, type, n_sources, n_urls
        FROM {prefix}nodes
        ORDER BY n_sources DESC, entity_id ASC
        LIMIT {int(limit)}
    """


def entity_sources_sql(entity_id: str, limit: int = 20, prefix: str = "kg_") -> str:
    """Q8 unranked: evidence rows behind an entity (sources→units join)."""
    return f"""
        SELECT m.mention_id, m.unit_id, m.url, m.description, m.source_chunk_ids
        FROM {prefix}mentions m
        WHERE m.entity_id = '{_q(entity_id)}'
        ORDER BY m.mention_id
        LIMIT {int(limit)}
    """


def relationship_search_sql(term: str, limit: int = 10, prefix: str = "kg_") -> str:
    """Q4 keyword tier in pure SQL (ILIKE + exact-term boost; the semantic
    tier needs the embedding column — use plans.queries for the full rank)."""
    safe = _q(term.lower())
    return f"""
        SELECT e.edge_id, sn.name AS src_name, e.pred, dn.name AS dst_name,
               e.description, e.strength,
               (CASE WHEN lower(e.description) = '{safe}' THEN 0.2 ELSE 0 END
                + CASE WHEN lower(e.description) LIKE '%{safe}%' THEN 0.15 ELSE 0 END
                + e.strength * 0.01) AS score
        FROM {prefix}edges e
        LEFT JOIN {prefix}nodes sn ON sn.entity_id = e.src_id
        LEFT JOIN {prefix}nodes dn ON dn.entity_id = e.dst_id
        WHERE lower(e.description) LIKE '%{safe}%'
           OR lower(sn.name) LIKE '%{safe}%'
           OR lower(dn.name) LIKE '%{safe}%'
        ORDER BY score DESC, edge_id ASC
        LIMIT {int(limit)}
    """


def run(spark: SparkSession, sql: str) -> DataFrame:
    return spark.sql(sql)
