"""Pre-indexed ranked search (plans/search_index.py) — VERDICT r3 #4.

Parity: with an exhaustive semantic probe (nprobe = all cells), the
indexed search must return EXACTLY what the full-scan scorer returns —
same rows, same scores, same order — across keyword lists, cursors,
prefix/exact boosts and gram-less terms. Plan: the indexed query path
must contain zero Python stages and probe the posting table with a
pushed filter instead of scanning every row.
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

    e_posting, e_assigned, e_cents = build_entity_search_index(nodes, n_cells=4)
    ppath = str(base / "entity_trigrams")
    e_posting.write.parquet(ppath)
    e_posting = spark.read.parquet(ppath)
    apath = str(base / "entity_ivf")
    e_assigned.write.parquet(apath)
    e_assigned = spark.read.parquet(apath)

    r_posting, r_assigned, r_cents = build_relationship_search_index(
        edges, nodes, n_cells=4
    )
    return {
        "nodes": nodes,
        "edges": edges,
        "ent": (e_posting, e_assigned, e_cents),
        "rel": (r_posting, r_assigned, r_cents),
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
    posting, assigned, cents = corpus["ent"]
    kwargs = {k: v for k, v in case.items() if k != "q"}
    expected = _rows(search_entities(corpus["nodes"], case["q"], **kwargs))
    got = _rows(
        search_entities_indexed(
            corpus["nodes"], posting, assigned, cents, case["q"], **kwargs
        )
    )
    assert got == expected


def test_entity_search_parity_with_cursor(corpus):
    posting, assigned, cents = corpus["ent"]
    first = search_entities(corpus["nodes"], "apple", limit=2).collect()
    cursor = (first[-1]["score"], first[-1]["entity_id"])
    expected = _rows(search_entities(corpus["nodes"], "apple", cursor=cursor))
    got = _rows(
        search_entities_indexed(
            corpus["nodes"], posting, assigned, cents, "apple", cursor=cursor
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
    posting, assigned, cents = corpus["rel"]
    kwargs = {k: v for k, v in case.items() if k != "q"}
    expected = _rows(
        search_relationships(corpus["edges"], corpus["nodes"], case["q"], **kwargs)
    )
    got = _rows(
        search_relationships_indexed(
            corpus["edges"], corpus["nodes"], posting, assigned, cents,
            case["q"], **kwargs,
        )
    )
    assert got == expected


def test_indexed_plan_python_free_and_pushed_probe(corpus):
    """The full-scan path needs a pandas UDF per query; the indexed path
    must be pure JVM with the gram probe pushed into the parquet scan."""
    posting, assigned, cents = corpus["ent"]
    df = search_entities_indexed(
        corpus["nodes"], posting, assigned, cents, "apple"
    )
    jvm = df.sparkSession._jvm
    plan = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "In(gram" in l]
    assert pushed, "gram IN (...) probe not pushed to the posting scan"


def test_posting_table_shape(corpus):
    posting, _, _ = corpus["ent"]
    row = posting.where(
        (F.col("id") == "e000") & (F.col("gram") == "app")
    ).collect()
    assert len(row) == 1
    assert row[0]["n_grams"] == 6  # '  apple ' (8 chars) → 6 trigrams
    assert row[0]["field"] == "name"


def test_pipeline_search_index_stage_end_to_end(spark, tmp_path):
    """run_pipeline(build_search_index=True) commits the five index tables
    and warehouse-loaded indexed search matches the full-scan scorer."""
    from kiwi_spark.pipeline import run_pipeline
    from kiwi_spark.plans.search_index import load_centroids
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh_idx")
    result = run_pipeline(
        spark, pages_df(spark, 30, seed=7), wh, build_search_index=True
    )
    assert "search_index" in result.stages_run
    cat = Catalog(wh)
    for table in ("entity_trigrams", "entity_ivf", "edge_trigrams",
                  "edge_ivf", "ivf_centroids"):
        assert cat.exists(table), table

    nodes = cat.read(spark, "nodes")
    edges = cat.read(spark, "edges")
    cents = cat.read(spark, "ivf_centroids")
    some = nodes.select("name").orderBy("entity_id").limit(3).collect()
    for row in some:
        q = row["name"].split()[0]
        expected = _rows(search_entities(nodes, q))
        got = _rows(
            search_entities_indexed(
                nodes,
                cat.read(spark, "entity_trigrams"),
                cat.read(spark, "entity_ivf"),
                load_centroids(cents, "entity"),
                q,
            )
        )
        assert got == expected, q
    expected = _rows(search_relationships(edges, nodes, some[0]["name"]))
    got = _rows(
        search_relationships_indexed(
            edges, nodes,
            cat.read(spark, "edge_trigrams"),
            cat.read(spark, "edge_ivf"),
            load_centroids(cents, "edge"),
            some[0]["name"],
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
    from kiwi_spark.plans.search_index import load_centroids
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
        search_entities_indexed(
            nodes,
            cat.read(spark, "entity_trigrams"),
            cat.read(spark, "entity_ivf"),
            load_centroids(cat.read(spark, "ivf_centroids"), "entity"),
            name,
        )
    )
    assert got == expected


def test_auto_routing_parity_and_fallback(spark, tmp_path):
    """VERDICT r4 #7: the query surface auto-detects the five index
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
    cat.drop("entity_ivf")
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


def test_drift_retrain_restores_partial_probe_recall(spark, tmp_path):
    """VERDICT r5 watch #1: frozen IVF cells silently degrade partial-probe
    recall when the data distribution drifts (a disjoint-world batch lands
    after training). The drift trigger must retrain the leg and restore
    recall; nprobe=all stays exact throughout.

    Construction guarantees the frozen failure: centroids trained on two
    axis clusters; the new cluster's members alternate a tiny dim-0/dim-1
    bias, so frozen assignment SPLITS them across the two old cells and a
    one-cell probe can only ever see half of them."""
    from kiwi_spark.operators.similarity import _assign_cells, cosine_topk, ivf_topk
    from kiwi_spark.plans.search_index import (
        centroid_rows,
        load_centroids,
        maybe_retrain_ivf,
        record_ivf_training,
    )
    import numpy as np

    cat = Catalog(str(tmp_path / "wh_drift"))

    def node_rows(prefix, vecs):
        return [(f"{prefix}{i:03d}", [float(x) for x in v]) for i, v in enumerate(vecs)]

    old_vecs = [[1.0, 0.0, 0.0, 0.0]] * 15 + [[0.0, 1.0, 0.0, 0.0]] * 15
    old_nodes = spark.createDataFrame(
        node_rows("a", old_vecs), "entity_id string, embedding array<float>"
    )
    cents = np.asarray([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    cat.commit(old_nodes, "nodes", stage="saving")
    cat.commit(
        _assign_cells(old_nodes, cents, "embedding").select(
            F.col("entity_id").alias("vec_id"), "embedding", "cell"
        ),
        "entity_ivf", stage="indexing",
    )
    # edge leg present but quiescent (drift check must leave it alone)
    edge_nodes = spark.createDataFrame(
        node_rows("e", [[0.5, 0.5, 0.0, 0.0]] * 4),
        "edge_id string, embedding array<float>",
    )
    cat.commit(edge_nodes, "edges", stage="saving")
    cat.commit(
        _assign_cells(edge_nodes, cents, "embedding").select(
            F.col("edge_id").alias("vec_id"), "embedding", "cell"
        ),
        "edge_ivf", stage="indexing",
    )
    cat.commit(
        centroid_rows(spark, "entity", cents.tolist()).unionByName(
            centroid_rows(spark, "edge", cents.tolist())
        ),
        "ivf_centroids", stage="indexing",
    )
    record_ivf_training(cat, 30, 4)

    assert maybe_retrain_ivf(spark, cat) == []  # no drift yet

    # disjoint-world batch: 60 vectors on dim 2, alternating tiny biases
    new_vecs = [
        [0.1, 0.0, 2.0, 0.0] if i % 2 == 0 else [0.0, 0.1, 2.0, 0.0]
        for i in range(60)
    ]
    new_nodes = spark.createDataFrame(
        node_rows("c", new_vecs), "entity_id string, embedding array<float>"
    )
    cat.commit(
        cat.read(spark, "nodes").unionByName(new_nodes), "nodes", stage="saving"
    )
    cat.commit(
        _assign_cells(new_nodes, cents, "embedding").select(
            F.col("entity_id").alias("vec_id"), "embedding", "cell"
        ),
        "entity_ivf", stage="indexing", append=True, batch_id="drift1",
    )

    q = [0.0, 0.0, 1.0, 0.0]

    def recall_at_10(assigned, centroids, nprobe):
        exact = {
            r["vec_id"]
            for r in cosine_topk(
                cat.read(spark, "nodes"), q, k=10,
                id_col="entity_id", vec_col="embedding",
            ).collect()
        }
        got = {
            r["vec_id"]
            for r in ivf_topk(assigned, centroids, q, k=10, nprobe=nprobe).collect()
        }
        return len(got & exact) / 10.0

    frozen_assigned = cat.read(spark, "entity_ivf")
    frozen_recall = recall_at_10(frozen_assigned, cents.tolist(), nprobe=1)
    assert frozen_recall == 0.5  # the guaranteed split

    # n_cells=3 over {axis-A, axis-B, drift-C}: the Lloyd rebuild settles
    # one centroid per cluster (seeded sample + first-max tie rule →
    # deterministic), so the one-cell probe now sees ALL of C
    retrained = maybe_retrain_ivf(spark, cat, n_cells=3)
    assert retrained == ["entity"]  # edge leg untouched
    assert int(cat.current_snapshot("edge_ivf")["id"]) == 1

    new_cents = load_centroids(cat.read(spark, "ivf_centroids"), "entity")
    new_assigned = cat.read(spark, "entity_ivf")
    retrained_recall = recall_at_10(new_assigned, new_cents, nprobe=1)
    assert retrained_recall == 1.0 > frozen_recall
    # nprobe = all cells stays exact after retrain
    assert recall_at_10(new_assigned, new_cents, nprobe=len(new_cents)) == 1.0
    # trained counts updated → immediately re-checking is a no-op
    assert maybe_retrain_ivf(spark, cat) == []
    # batch lineage carried through the clean retrain snapshot: the
    # pre-retrain batch still reads as appended (retry would skip)
    assert cat.batch_appended("entity_ivf", "drift1")


def test_incremental_growth_triggers_retrain(spark, tmp_path):
    """Integration: tripling the corpus through incremental_add crosses
    IVF_DRIFT_THRESHOLD — the delta index maintenance must retrain the
    drifted legs and the indexed search must stay parity afterwards."""
    from kiwi_spark.pipeline import incremental_add, run_pipeline
    from kiwi_spark.plans.search_index import search_entities_auto
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh_grow")
    base = pages_df(spark, 10, seed=67, partitions=2)
    batch = pages_df(spark, 30, seed=67, partitions=2, start=10)
    run_pipeline(spark, base, wh, build_search_index=True)
    cat = Catalog(wh)
    cat.set_property("ivf_drift_threshold", 0.1)  # the operational knob
    trained_before = dict(cat.get_property("ivf_trained_rows"))
    cents_snap_before = cat.current_snapshot("ivf_centroids")["id"]

    incremental_add(spark, batch, wh)

    trained_after = dict(cat.get_property("ivf_trained_rows"))
    assert trained_after["entity"] > trained_before["entity"]
    assert cat.current_snapshot("ivf_centroids")["id"] > cents_snap_before
    assert trained_after["entity"] == cat.read(spark, "entity_ivf").count()

    nodes = cat.read(spark, "nodes")
    term = nodes.select("name").first()["name"]
    via_index = search_entities_auto(spark, cat, nodes, term, limit=5).collect()
    full_scan = search_entities(nodes, term, limit=5).collect()
    assert [tuple(r) for r in via_index] == [tuple(r) for r in full_scan]
