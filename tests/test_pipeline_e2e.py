"""End-to-end pipeline tests on the synthetic corpus:

* byte-identity of extracted text per url (Spark stage vs the pure kernel —
  the BASELINE.json per-row invariant)
* triple set P/R ≥ 0.95 vs the naive reference simulator (tests/reference_sim)
* recall of the generator's intended mention/relation ground truth
* resume-from-checkpoint
* commit-recorded row counts and lineage (Catalog.row_count/lineage)
* manifest-recorded schemas (Catalog.read runs no inference job)
"""

import os
import shutil

import pytest

from kiwi_spark.functions.html_text import html_to_markdown
from kiwi_spark.pipeline import run_pipeline
from kiwi_spark.sources.catalog import Catalog
from kiwi_spark.sources.pages import build_world, generate_page, pages_df

from reference_sim import simulate_corpus

N_PAGES = 50
SEED = 42


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    pages = pages_df(spark, N_PAGES, seed=SEED, partitions=4)
    run_pipeline(spark, pages, wh)
    return wh


@pytest.fixture(scope="module")
def raw_pages():
    world = build_world(SEED)
    return [generate_page(world, i) for i in range(N_PAGES)]


def test_text_byte_identity(spark, warehouse, raw_pages):
    cat = Catalog(warehouse)
    got = {r["url"]: r["text"] for r in cat.read(spark, "text").collect()}
    assert len(got) == N_PAGES
    for row in raw_pages:
        expected = html_to_markdown(row["html"].decode("utf-8"))
        assert got[row["url"]] == expected, row["url"]


def test_triple_pr_vs_reference_sim(spark, warehouse, raw_pages):
    cat = Catalog(warehouse)
    nodes = {r["entity_id"]: r["name"] for r in cat.read(spark, "nodes").collect()}
    got = set()
    for r in cat.read(spark, "edges").collect():
        got.add((nodes[r["src_id"]], r["pred"], nodes[r["dst_id"]], r["strength"]))

    _, expected = simulate_corpus(raw_pages)
    assert expected, "simulator produced no triples — fixture problem"
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected)
    assert precision >= 0.95, (precision, sorted(got - expected)[:5])
    assert recall >= 0.95, (recall, sorted(expected - got)[:5])


def test_node_set_matches_sim(spark, warehouse, raw_pages):
    cat = Catalog(warehouse)
    got = {(r["name"], r["type"]) for r in cat.read(spark, "nodes").collect()}
    sim_nodes, _ = simulate_corpus(raw_pages)
    expected = set(sim_nodes.values())
    overlap = len(got & expected)
    assert overlap / len(expected) >= 0.95, sorted(expected - got)[:5]
    assert overlap / len(got) >= 0.95, sorted(got - expected)[:5]


def test_truth_relation_recall(spark, warehouse, raw_pages):
    """Every generator-intended relation should survive as an edge between
    the two alias families (modulo undirected pair merges)."""
    cat = Catalog(warehouse)
    nodes = {r["entity_id"]: r["name"] for r in cat.read(spark, "nodes").collect()}
    edge_pairs = set()
    for r in cat.read(spark, "edges").collect():
        edge_pairs.add(frozenset((nodes[r["src_id"]], nodes[r["dst_id"]])))

    # canonical name per alias via the simulator's node map
    sim_nodes, sim_triples = simulate_corpus(raw_pages)
    sim_pairs = {frozenset((s, o)) for s, _, o, _ in sim_triples}
    assert sim_pairs <= edge_pairs | sim_pairs  # sanity
    missing = sim_pairs - edge_pairs
    assert len(missing) / max(len(sim_pairs), 1) <= 0.05, sorted(
        tuple(m) for m in list(missing)[:5]
    )


def test_mentions_integrity(spark, warehouse):
    cat = Catalog(warehouse)
    mentions = cat.read(spark, "mentions")
    nodes = cat.read(spark, "nodes").select("entity_id")
    edges = cat.read(spark, "edges").select("edge_id")
    orphan_e = (
        mentions.where(mentions.entity_id.isNotNull())
        .join(nodes, "entity_id", "left_anti")
        .count()
    )
    orphan_r = (
        mentions.where(mentions.edge_id.isNotNull())
        .join(edges, "edge_id", "left_anti")
        .count()
    )
    assert orphan_e == 0 and orphan_r == 0
    # source_chunk_ids capped at 8 (unit.ts:13)
    from pyspark.sql import functions as F

    too_many = mentions.where(F.size("source_chunk_ids") > 8).count()
    assert too_many == 0


def test_resume_skips_committed_stages(spark, warehouse):
    pages = pages_df(spark, N_PAGES, seed=SEED, partitions=4)
    result = run_pipeline(spark, pages, warehouse, resume=True)
    assert result.stages_run == []
    assert set(result.stages_skipped) >= {"text", "views", "raw_graph", "id_map", "graph"}


def test_resume_recomputes_missing_tail(spark, warehouse, tmp_path):
    wh2 = str(tmp_path / "wh2")
    shutil.copytree(warehouse, wh2)
    cat = Catalog(wh2)
    cat.drop("nodes")
    cat.drop("edges")
    cat.drop("mentions")
    pages = pages_df(spark, N_PAGES, seed=SEED, partitions=4)
    result = run_pipeline(spark, pages, wh2, resume=True)
    assert "graph" in result.stages_run
    assert "text" in result.stages_skipped
    assert result.counts["nodes"] > 0


def test_link_mode_recorded_before_id_map_commits(spark, warehouse, tmp_path,
                                                 monkeypatch):
    """The id_map stage records its link_mode before its commits, so a
    crash inside them cannot leave a resumable warehouse whose recorded
    mode disagrees with the id_map/link_keys a resume then writes."""
    wh2 = str(tmp_path / "wh2")
    shutil.copytree(warehouse, wh2)
    cat = Catalog(wh2)
    for table in ("id_map", "link_keys", "nodes", "edges", "mentions"):
        cat.drop(table)
    assert cat.get_property("link_mode") == "parity"

    real_commit = Catalog.commit

    def crashing_commit(self, df, table, *args, **kwargs):
        if table == "id_map":
            raise RuntimeError("simulated crash in the id_map commit")
        return real_commit(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Catalog, "commit", crashing_commit)
    pages = pages_df(spark, N_PAGES, seed=SEED, partitions=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, pages, wh2, link_mode="fuzzy", resume=True)
    assert not cat.exists("id_map")
    assert cat.get_property("link_mode") == "fuzzy"


def test_fuzzy_mode_merges_more(spark, tmp_path):
    """fuzzy linking merges alias families cross-document (acronyms etc.),
    so it yields fewer or equal canonical nodes than parity."""
    whp = str(tmp_path / "p")
    whf = str(tmp_path / "f")
    pages = pages_df(spark, 30, seed=7, partitions=2)
    rp = run_pipeline(spark, pages, whp, link_mode="parity")
    rf = run_pipeline(spark, pages, whf, link_mode="fuzzy")
    assert rf.counts["nodes"] <= rp.counts["nodes"]
    assert rf.counts["nodes"] > 0


def test_recorded_row_counts_match_tables(spark, warehouse):
    """Every commit records the rows it wrote; row_count and lineage read
    them back from the manifests and must agree with a real count."""
    cat = Catalog(warehouse)
    lineage = cat.lineage()
    assert {r["table"] for r in lineage} == set(cat.tables())
    for table in cat.tables():
        n = cat.read(spark, table).count()
        assert cat.row_count(spark, table) == n, table
        snap_id = cat.current_snapshot(table)["id"]
        current = [
            r for r in lineage
            if r["table"] == table and r["snapshot_id"] == snap_id
        ]
        assert sum(r["row_count"] for r in current) == n, table
        assert all(r["bytes"] > 0 for r in current), table


def test_row_count_runs_no_spark_job(spark, warehouse):
    cat = Catalog(warehouse)
    tracker = spark.sparkContext.statusTracker()
    assert not cat.current_snapshot("nodes").get("deletes")

    before = set(tracker.getJobIdsForGroup(None))
    n = cat.row_count(spark, "nodes")
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert n > 0

    # the probe sees a job when one runs
    cat.read(spark, "nodes").count()
    assert set(tracker.getJobIdsForGroup(None)) - before


def test_catalog_read_runs_no_spark_job(spark, warehouse, tmp_path):
    """Catalog.read takes the schema from the manifest: opening a table
    runs no schema-inference job, and the schema equals the inferred one
    (partition columns last, every field nullable) for a partitioned and
    an unpartitioned table, with and without equality deletes."""
    cat = Catalog(str(tmp_path / "wh_schema"))
    ddl = "eb int not null, id int not null, name string, vec array<float>"
    rows = [(i % 3, i, f"n{i}", [float(i)]) for i in range(12)]
    more = [(i % 3, i, f"m{i}", [float(-i)]) for i in range(12, 15)]
    keys = spark.createDataFrame([(1,), (5,)], "id int")
    for table, layout in (("part_del", ["eb"]), ("flat_del", None)):
        cat.commit(spark.createDataFrame(rows, ddl), table, partition_by=layout)
        cat.commit(spark.createDataFrame(more, ddl), table, append=True,
                   delete_sets=[(keys, ["id"])])
        assert cat.current_snapshot(table)["deletes"]
    base = Catalog(warehouse)
    assert not base.current_snapshot("nodes").get("deletes")
    tables = [(base, "nodes_doc"), (base, "nodes"),
              (cat, "part_del"), (cat, "flat_del")]

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    schemas = {t: c.read(spark, t).schema for c, t in tables}
    recorded = {t: c.table_schema(t) for c, t in tables}
    assert set(tracker.getJobIdsForGroup(None)) == before

    for c, t in tables:
        first = os.path.join(c.warehouse, t, c.current_snapshot(t)["dirs"][0])
        inferred = spark.read.parquet(first).schema
        assert schemas[t] == inferred and recorded[t] == inferred, t
    assert schemas["part_del"].names == ["id", "name", "vec", "eb"]
    assert schemas["nodes_doc"].names[-1] == "eb"
    # the probe sees the inference jobs
    assert set(tracker.getJobIdsForGroup(None)) - before

    for t in ("part_del", "flat_del"):
        got = sorted(r["id"] for r in cat.read(spark, t).collect())
        assert got == [i for i in range(15) if i not in (1, 5)], t
