"""Pre-indexed ranked search (plans/search_index.py) — VERDICT r3 #4.

Parity: the indexed search must return EXACTLY what the full-scan
scorer returns — same rows, same scores, same order — across keyword
lists, cursors, prefix/exact boosts and gram-less terms. Plan: the
indexed query path must contain zero Python stages and probe the posting
table with a pushed filter instead of scanning every row.
"""

import pytest
from pyspark.sql import functions as F

from kiwi_spark.operators.materialize import materialize_edges, materialize_nodes
from kiwi_spark.plans.queries import search_entities, search_relationships
from kiwi_spark.sources.catalog import Catalog
from kiwi_spark.plans.search_index import (
    build_entity_search_index,
    build_relationship_search_index,
    search_entities_indexed,
    search_relationships_indexed,
)

NAMES = [
    ("APPLE", "ORGANIZATION", "fruit company making phones"),
    ("APPLE INC", "ORGANIZATION", "consumer electronics maker"),
    ("APPLIED MATERIALS", "ORGANIZATION", "semiconductor equipment"),
    ("SNAPPLE", "ORGANIZATION", "beverage brand drinks"),
    ("INTERNATIONAL BUSINESS MACHINES", "ORGANIZATION", "computers consulting"),
    ("IBM", "ORGANIZATION", "big blue computers"),
    ("ALICE SMITH", "PERSON", "engineer at apple"),
    ("ALICE MARIE SMITH", "PERSON", "senior engineer"),
    ("BOB JONES", "PERSON", "manager of sales"),
    ("MARCH 3, 2025", "DATE", "product launch date"),
    ("!!!", "ORGANIZATION", "punk band with no letters"),
    ("BERLIN", "LOCATION", "capital of germany"),
    ("BERLIN PHILHARMONIC", "ORGANIZATION", "orchestra music berlin"),
    ("ZEBRA TECHNOLOGIES", "ORGANIZATION", "barcode printers"),
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("searchidx")
    nodes_raw = spark.createDataFrame(
        [
            (f"e{i:03d}", name, typ, desc, (i % 5) + 1)
            for i, (name, typ, desc) in enumerate(NAMES)
        ],
        "entity_id string, name string, type string, description string, n_sources long",
    )
    npath = str(base / "nodes")
    materialize_nodes(nodes_raw, n_buckets=4).write.parquet(npath)
    nodes = spark.read.parquet(npath)

    rows = nodes_raw.select("entity_id").collect()
    ids = [r["entity_id"] for r in rows]
    edges_raw = spark.createDataFrame(
        [
            (f"r{i:03d}", ids[i], ids[(i + 3) % len(ids)], "related_to",
             f"link between {NAMES[i][0]} and {NAMES[(i + 3) % len(ids)][0]}",
             0.5 + (i % 4) / 10.0, i % 3 + 1)
            for i in range(len(ids))
        ],
        "edge_id string, src_id string, dst_id string, pred string, "
        "description string, strength double, n_sources long",
    )
    epath = str(base / "edges")
    materialize_edges(edges_raw, n_buckets=4).write.parquet(epath)
    edges = spark.read.parquet(epath)

    ppath = str(base / "entity_trigrams")
    build_entity_search_index(nodes).write.parquet(ppath)
    return {
        "nodes": nodes,
        "edges": edges,
        "ent": spark.read.parquet(ppath),
        "rel": build_relationship_search_index(edges, nodes),
    }


def _rows(df):
    return [tuple(r) for r in df.collect()]


ENTITY_CASES = [
    {"q": "apple"},
    {"q": "Apple", "keywords": ["electronics", "IBM"]},
    {"q": "alice smith", "limit": 5},
    {"q": "berlin music"},
    {"q": "!!!"},                          # gram-less term: exact-boost leg
    {"q": "machines", "keywords": ["!!!", "zebra"]},
    {"q": "xyzzy unrelated"},              # purely-semantic candidates
]


@pytest.mark.parametrize("case", ENTITY_CASES, ids=[c["q"] for c in ENTITY_CASES])
def test_entity_search_parity(corpus, case):
    kwargs = {k: v for k, v in case.items() if k != "q"}
    expected = _rows(search_entities(corpus["nodes"], case["q"], **kwargs))
    got = _rows(
        search_entities_indexed(
            corpus["nodes"], corpus["ent"], case["q"], **kwargs
        )
    )
    assert got == expected


def test_entity_search_parity_with_cursor(corpus):
    first = search_entities(corpus["nodes"], "apple", limit=2).collect()
    cursor = (first[-1]["score"], first[-1]["entity_id"])
    expected = _rows(search_entities(corpus["nodes"], "apple", cursor=cursor))
    got = _rows(
        search_entities_indexed(
            corpus["nodes"], corpus["ent"], "apple", cursor=cursor
        )
    )
    assert got == expected
    assert all(r[0] not in {x["entity_id"] for x in first} for r in got)


REL_CASES = [
    {"q": "apple"},
    {"q": "berlin", "keywords": ["zebra"]},
    {"q": "link between"},
    {"q": "!!!"},
]


@pytest.mark.parametrize("case", REL_CASES, ids=[c["q"] for c in REL_CASES])
def test_relationship_search_parity(corpus, case):
    kwargs = {k: v for k, v in case.items() if k != "q"}
    expected = _rows(
        search_relationships(corpus["edges"], corpus["nodes"], case["q"], **kwargs)
    )
    got = _rows(
        search_relationships_indexed(
            corpus["edges"], corpus["nodes"], corpus["rel"],
            case["q"], **kwargs,
        )
    )
    assert got == expected


def test_indexed_plan_python_free_and_pushed_probe(corpus):
    """The full-scan path needs a pandas UDF per query; the indexed path
    must be pure JVM with the gram probe pushed into the parquet scan."""
    df = search_entities_indexed(corpus["nodes"], corpus["ent"], "apple")
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "In(gram" in l]
    assert pushed, "gram IN (...) probe not pushed to the posting scan"


def test_posting_table_shape(corpus):
    row = corpus["ent"].where(
        (F.col("id") == "e000") & (F.col("gram") == "app")
    ).collect()
    assert len(row) == 1
    assert row[0]["n_grams"] == 6  # '  apple ' (8 chars) → 6 trigrams
    assert row[0]["field"] == "name"


def test_pipeline_search_index_stage_end_to_end(spark, tmp_path):
    """run_pipeline(build_search_index=True) commits exactly the two
    posting tables and warehouse-loaded indexed search matches the
    full-scan scorer."""
    from kiwi_spark.pipeline import run_pipeline
    from kiwi_spark.plans.search_index import SEARCH_INDEX_TABLES
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh_idx")
    result = run_pipeline(
        spark, pages_df(spark, 30, seed=7), wh, build_search_index=True
    )
    assert "search_index" in result.stages_run
    cat = Catalog(wh)
    assert SEARCH_INDEX_TABLES == ("entity_trigrams", "edge_trigrams")
    indexing = {r["table"] for r in cat.lineage() if r["stage"] == "indexing"}
    assert indexing == set(SEARCH_INDEX_TABLES)
    assert not [t for t in cat.tables() if "ivf" in t]
    assert not [p for p in cat.properties() if "ivf" in p]

    nodes = cat.read(spark, "nodes")
    edges = cat.read(spark, "edges")
    some = nodes.select("name").orderBy("entity_id").limit(3).collect()
    for row in some:
        q = row["name"].split()[0]
        expected = _rows(search_entities(nodes, q))
        got = _rows(
            search_entities_indexed(
                nodes, cat.read(spark, "entity_trigrams"), q
            )
        )
        assert got == expected, q
    expected = _rows(search_relationships(edges, nodes, some[0]["name"]))
    got = _rows(
        search_relationships_indexed(
            edges, nodes, cat.read(spark, "edge_trigrams"), some[0]["name"]
        )
    )
    assert got == expected

    # resume skips the committed index stage
    again = run_pipeline(
        spark, pages_df(spark, 30, seed=7), wh, resume=True,
        build_search_index=True,
    )
    assert "search_index" in again.stages_skipped


def test_incremental_add_rebuilds_search_index(spark, tmp_path):
    """After incremental ingestion changes the canonical graph, a
    previously-built search index must be rebuilt, not left stale."""
    from kiwi_spark.pipeline import incremental_add, run_pipeline
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh_inc_idx")
    all_pages = pages_df(spark, 40, seed=3, partitions=4)
    first = all_pages.where(F.col("url") < "https://n")
    rest = all_pages.where(~(F.col("url") < "https://n"))
    run_pipeline(spark, first, wh, build_search_index=True)
    result = incremental_add(spark, rest, wh)
    assert "search_index" in result.stages_run
    cat = Catalog(wh)
    nodes = cat.read(spark, "nodes")
    name = nodes.orderBy(F.desc("n_sources"), "entity_id").first()["name"]
    expected = _rows(search_entities(nodes, name))
    got = _rows(
        search_entities_indexed(nodes, cat.read(spark, "entity_trigrams"), name)
    )
    assert got == expected


def test_auto_routing_parity_and_fallback(spark, tmp_path):
    """VERDICT r4 #7: the query surface auto-detects the two posting
    tables — Q2/Q4 route through the indexed twins when present
    (result-identical) and fall back to the full scan when any table is
    missing."""
    from kiwi_spark.pipeline import run_pipeline
    from kiwi_spark.plans.search_index import (
        has_search_index,
        search_entities_auto,
        search_relationships_auto,
    )
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh_auto")
    run_pipeline(
        spark, pages_df(spark, 30, seed=9, partitions=4), wh,
        build_search_index=True,
    )
    cat = Catalog(wh)
    assert has_search_index(cat)
    nodes = cat.read(spark, "nodes")
    edges = cat.read(spark, "edges")
    term = nodes.orderBy(F.desc("n_sources"), "entity_id").first()["name"]

    expected_e = _rows(search_entities(nodes, term))
    expected_r = _rows(search_relationships(edges, nodes, term))
    assert _rows(search_entities_auto(spark, cat, nodes, term)) == expected_e
    assert (
        _rows(search_relationships_auto(spark, cat, edges, nodes, term))
        == expected_r
    )

    # SQL-surface wrappers route identically
    from kiwi_spark.plans import sql_api

    assert _rows(sql_api.search_entities(spark, wh, term)) == expected_e
    assert _rows(sql_api.search_relationships(spark, wh, term)) == expected_r

    # dropping any one index table breaks completeness → full-scan fallback
    cat.drop("entity_trigrams")
    assert not has_search_index(cat)
    assert _rows(search_entities_auto(spark, cat, nodes, term)) == expected_e
    assert (
        _rows(search_relationships_auto(spark, cat, edges, nodes, term))
        == expected_r
    )


def test_ivf_build_survives_empty_scan_partitions(spark, tmp_path):
    """A snapshot with zero-row files (delta-committed union writes
    produce them) must not break the IVF Lloyd pass: an empty partition
    yielding pd.DataFrame({'s': []}) defaults to float64, which Arrow
    cannot convert to list<double> — the partial-sum generator must yield
    nothing instead."""
    from kiwi_spark.operators.similarity import ivf_build

    path = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(f"v{i}", [float(i), float(i % 3), 1.0]) for i in range(7)],
        "entity_id string, embedding array<float>",
    ).repartition(5).write.parquet(path)
    # repartition(5) over 7 rows writes some empty files; make sure at
    # least one zero-row split survives the read
    df = spark.read.parquet(path)
    assigned, cents = ivf_build(
        df, n_cells=3, id_col="entity_id", vec_col="embedding"
    )
    assert assigned.count() == 7 and len(cents) == 3


def test_incremental_growth_keeps_auto_search_parity(spark, tmp_path):
    """Integration: after tripling the corpus through incremental_add,
    the delta-maintained posting tables still serve search_entities_auto
    with exactly the full-scan ranking."""
    from kiwi_spark.pipeline import incremental_add, run_pipeline
    from kiwi_spark.plans.search_index import search_entities_auto
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh_grow")
    base = pages_df(spark, 10, seed=67, partitions=2)
    batch = pages_df(spark, 30, seed=67, partitions=2, start=10)
    run_pipeline(spark, base, wh, build_search_index=True)
    cat = Catalog(wh)

    incremental_add(spark, batch, wh)

    nodes = cat.read(spark, "nodes")
    term = nodes.select("name").first()["name"]
    via_index = search_entities_auto(spark, cat, nodes, term, limit=5).collect()
    full_scan = search_entities(nodes, term, limit=5).collect()
    assert [tuple(r) for r in via_index] == [tuple(r) for r in full_scan]
