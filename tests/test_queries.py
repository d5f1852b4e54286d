"""Graph query operator tests (SURVEY §2.5) against a pipeline-built graph,
verified vs hand-computed expectations from the collected tables."""

import pytest
from pyspark.sql import functions as F

from kiwi_spark.pipeline import run_pipeline
from kiwi_spark.plans import queries as Q
from kiwi_spark.sources.catalog import Catalog
from kiwi_spark.sources.pages import pages_df

N_PAGES = 40
SEED = 11


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("whq"))
    run_pipeline(spark, pages_df(spark, N_PAGES, seed=SEED, partitions=4), wh)
    cat = Catalog(wh)
    return {
        "warehouse": wh,
        "nodes": cat.read(spark, "nodes").cache(),
        "edges": cat.read(spark, "edges").cache(),
        "mentions": cat.read(spark, "mentions").cache(),
        "units": cat.read(spark, "units").cache(),
        "text": cat.read(spark, "text").cache(),
    }


def test_list_files(graph):
    rows = Q.list_files(graph["text"], name_filter="articles", limit=5).collect()
    assert len(rows) == 5
    urls = [r["url"] for r in rows]
    assert urls == sorted(urls)
    # keyset cursor: next page strictly after
    rows2 = Q.list_files(graph["text"], "articles", 5, cursor=urls[-1]).collect()
    assert all(r["url"] > urls[-1] for r in rows2)


def test_search_entities_exact_boost(graph):
    some = graph["nodes"].orderBy(F.desc("n_sources")).first()
    got = Q.search_entities(graph["nodes"], some["name"], limit=5).collect()
    assert got, "no results"
    assert got[0]["name"] == some["name"]  # exact match ranks first
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_search_entities_multi_term_keywords(graph):
    """entity.ts:124-133 — terms = uniqueTerms(keywords + query): an exact
    name passed as a KEYWORD must surface the entity even when the main
    query is unrelated."""
    target = graph["nodes"].orderBy(F.desc("n_sources")).first()
    got = Q.search_entities(
        graph["nodes"],
        "completely unrelated nonsense query xyzzy",
        limit=5,
        keywords=[target["name"]],
    ).collect()
    assert got, "no results"
    assert got[0]["name"] == target["name"]
    # exact boost path: score includes EXACT_BOOST even though the semantic
    # score of the unrelated query is near zero
    assert got[0]["score"] >= Q.EXACT_BOOST


def test_search_relationships_multi_term_keywords(graph):
    edge = graph["edges"].first()
    src_name = (
        graph["nodes"].where(F.col("entity_id") == edge["src_id"]).first()["name"]
    )
    got = Q.search_relationships(
        graph["edges"], graph["nodes"], "unrelated zzz query",
        limit=10, keywords=[src_name],
    ).collect()
    assert got
    assert any(r["src_name"] == src_name or r["dst_name"] == src_name for r in got)


def test_list_entities_pagination_and_scope(graph):
    page1 = Q.list_entities(graph["nodes"], limit=10).collect()
    ids = [r["entity_id"] for r in page1]
    assert ids == sorted(ids)
    page2 = Q.list_entities(graph["nodes"], limit=10, cursor=ids[-1]).collect()
    assert all(r["entity_id"] > ids[-1] for r in page2)
    # url scope via mentions semi-join
    url = graph["mentions"].first()["url"]
    scoped = Q.list_entities(
        graph["nodes"], limit=100, urls=[url], mentions=graph["mentions"]
    ).collect()
    expected = {
        r["entity_id"]
        for r in graph["mentions"].where(
            (F.col("url") == url) & F.col("entity_id").isNotNull()
        ).select("entity_id").distinct().collect()
    }
    assert {r["entity_id"] for r in scoped} == expected


def test_lookup_entity_by_alias(graph):
    node = graph["nodes"].where(F.col("type") == "ORGANIZATION").first()
    got = Q.lookup_entity(graph["nodes"], node["name"].lower()).collect()
    assert any(r["entity_id"] == node["entity_id"] for r in got)


def test_get_relationships_and_neighbours(graph):
    edge = graph["edges"].first()
    eid = edge["src_id"]
    rels = Q.get_relationships(graph["edges"], graph["nodes"], [eid], limit=100).collect()
    expected = graph["edges"].where(
        (F.col("src_id") == eid) | (F.col("dst_id") == eid)
    ).count()
    assert len(rels) == min(expected, 100)
    assert all(r["src_name"] is not None and r["dst_name"] is not None for r in rels)

    nbrs = Q.get_entity_neighbours(graph["edges"], graph["nodes"], eid, limit=100).collect()
    assert len(nbrs) == len(rels)
    assert all(r["entity_id"] != eid for r in nbrs)


def test_search_relationships(graph):
    got = Q.search_relationships(
        graph["edges"], graph["nodes"], "acquired", limit=5
    ).collect()
    assert got
    # predicate-phrase search should surface 'acquired' edges first
    assert any("acquired" in (r["description"] or "") for r in got)


def _bfs_expected(edges_rows, src, dst, max_depth=5):
    from collections import deque

    adj = {}
    for r in edges_rows:
        adj.setdefault(r["src_id"], set()).add(r["dst_id"])
        adj.setdefault(r["dst_id"], set()).add(r["src_id"])
    q = deque([(src, 0)])
    dist = {src: 0}
    while q:
        node, d = q.popleft()
        if d >= max_depth:
            continue
        for nbr in adj.get(node, ()):
            if nbr not in dist:
                dist[nbr] = d + 1
                q.append((nbr, d + 1))
    return dist.get(dst)


def test_path_between_entities(graph):
    edges_rows = graph["edges"].select("src_id", "dst_id").collect()
    # pick a connected pair at distance ≥2 if one exists
    edge = graph["edges"].first()
    src = edge["src_id"]
    candidates = [r["dst_id"] for r in edges_rows] + [r["src_id"] for r in edges_rows]
    target = None
    want = None
    for cand in candidates:
        d = _bfs_expected(edges_rows, src, cand)
        if d is not None and d >= 2:
            target, want = cand, d
            break
    if target is None:
        target = edge["dst_id"]
        want = 1
    path = Q.get_path_between_entities(graph["edges"], src, target)
    assert path is not None
    assert path[0] == src and path[-1] == target
    assert len(path) - 1 == want  # shortest
    # adjacent hops must be real edges
    pairs = {
        frozenset((r["src_id"], r["dst_id"])) for r in edges_rows
    }
    for a, b in zip(path, path[1:]):
        assert frozenset((a, b)) in pairs

    # unreachable: an isolated fake id
    assert Q.get_path_between_entities(graph["edges"], src, "nonexistent") is None


def test_entity_sources_and_metadata(graph):
    node = graph["nodes"].orderBy(F.desc("n_sources")).first()
    srcs = Q.get_entity_sources(
        graph["mentions"], graph["units"], [node["entity_id"]], limit=100
    ).collect()
    assert len(srcs) == min(node["n_sources"], 100)
    ranked = Q.get_entity_sources(
        graph["mentions"], graph["units"], [node["entity_id"]],
        query_text=node["name"], limit=5,
    ).collect()
    assert ranked and ranked[0]["score"] >= ranked[-1]["score"]

    meta = Q.get_source_file_metadata(
        graph["mentions"], graph["text"], [srcs[0]["mention_id"]]
    ).collect()
    assert meta and meta[0]["warc_ts"] is not None


def test_sql_api(spark, graph, tmp_path_factory):
    from kiwi_spark.functions.linking import compact_name_key
    from kiwi_spark.plans import sql_api

    # re-register views over the same warehouse the fixture built
    wh = graph["warehouse"]
    views = sql_api.register_graph_views(spark, wh)
    assert "kg_nodes" in views and "kg_edges" in views

    node = graph["nodes"].orderBy(F.desc("n_sources")).first()
    rows = spark.sql(
        sql_api.entity_by_name_sql(compact_name_key(node["name"]))
    ).collect()
    assert any(r["entity_id"] == node["entity_id"] for r in rows)

    nbrs_sql = spark.sql(sql_api.neighbours_sql(node["entity_id"], limit=100)).collect()
    expected = graph["edges"].where(
        (F.col("src_id") == node["entity_id"]) | (F.col("dst_id") == node["entity_id"])
    ).count()
    assert len(nbrs_sql) == min(expected, 100)

    top = spark.sql(sql_api.top_entities_sql(5)).collect()
    assert top[0]["entity_id"] == node["entity_id"]

    srcs = spark.sql(sql_api.entity_sources_sql(node["entity_id"], 10)).collect()
    assert 0 < len(srcs) <= 10

    rel = spark.sql(sql_api.relationship_search_sql("acquired", 5)).collect()
    assert rel and all("acquired" in r["description"].lower() for r in rel)


def test_similar_sources(graph):
    seed = graph["mentions"].first()
    got = Q.similar_sources(graph["mentions"], seed["mention_id"], k=5).collect()
    assert 0 < len(got) <= 5
    assert all(r["mention_id"] != seed["mention_id"] for r in got)
    dists = [r["distance"] for r in got]
    assert dists == sorted(dists)
