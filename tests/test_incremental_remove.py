"""Document removal (operators/delta_remove.py — VERDICT r5 #1/#5): the
reference's delete-file workflow (delete-file.ts:34-135) as a delta pass —
O(removed + touched), result ≡ from-scratch build on the complement corpus,
retry-idempotent, descriptions refreshed from surviving sources only."""

import os

import pytest
from pyspark.sql import functions as F

from kiwi_spark.pipeline import incremental_add, incremental_remove, run_pipeline
from kiwi_spark.sources.catalog import Catalog
from kiwi_spark.sources.pages import pages_df


def _graph_signature(spark, warehouse):
    cat = Catalog(warehouse)
    nodes = {
        (r["entity_id"], r["name"], r["type"], r["n_sources"], r["description"])
        for r in cat.read(spark, "nodes").collect()
    }
    edges = {
        (r["edge_id"], r["src_id"], r["dst_id"], r["pred"], r["strength"], r["n_sources"])
        for r in cat.read(spark, "edges").collect()
    }
    mentions = {
        (r["mention_id"], r["entity_id"], r["edge_id"])
        for r in cat.read(spark, "mentions").collect()
    }
    return nodes, edges, mentions


def _split(pages, pivot="https://p"):
    return pages.where(F.col("url") < pivot), pages.where(F.col("url") >= pivot)


def test_remove_equals_complement_build_parity(spark, tmp_path):
    """Core contract: remove(B) on a warehouse built from A∪B must equal a
    from-scratch build on A — canonical ids, merged counts, folded
    descriptions (the deletion-aware description refresh), everything.
    Also checks the doc-view masks (text ≡ files table) and that the
    canonical-table commits were bounded MOR (pure deletes on doc views,
    O(touched) re-adds on graph tables)."""
    wh = str(tmp_path / "wh")
    wh_complement = str(tmp_path / "wh_c")
    all_pages = pages_df(spark, 40, seed=41, partitions=4)
    keep, drop = _split(all_pages)
    assert keep.count() > 5 and drop.count() > 5

    run_pipeline(spark, all_pages, wh)
    run_pipeline(spark, keep, wh_complement)
    cat = Catalog(wh)
    nodes_before = {
        r["entity_id"]: r["description"]
        for r in cat.read(spark, "nodes").collect()
    }
    before_snaps = {t: cat.current_snapshot(t) for t in ("nodes", "edges", "mentions")}

    result = incremental_remove(spark, drop.select("url"), wh)
    assert result.stages_run[0] == "delta_remove"
    assert result.counts["removed_entities"] > 0
    # the removal touched SHARED groups (survivors needing recompute),
    # not just the removed docs' own entities
    assert result.counts["touched_entities"] > result.counts["removed_entities"]

    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_complement)

    # deletion-aware description refresh (VERDICT r5 #5): at least one
    # SURVIVING entity folded a removed-url source before — its refreshed
    # description must differ and equal the complement build's
    comp_nodes = {
        r["entity_id"]: r["description"]
        for r in Catalog(wh_complement).read(spark, "nodes").collect()
    }
    refreshed = [
        eid for eid, desc in comp_nodes.items()
        if eid in nodes_before and nodes_before[eid] != desc
    ]
    assert refreshed, "expected at least one survivor description refresh"
    after_nodes = {
        r["entity_id"]: r["description"]
        for r in cat.read(spark, "nodes").collect()
    }
    for eid in refreshed:
        assert after_nodes[eid] == comp_nodes[eid]

    # file rows vanish (delete-file.ts:84-86): text is the files table
    drop_urls = {r["url"] for r in drop.select("url").collect()}
    left_urls = {r["url"] for r in cat.read(spark, "text").select("url").collect()}
    assert not (left_urls & drop_urls)
    # link_keys hold no removed-entity rows
    lk = cat.read(spark, "link_keys")
    nd = cat.read(spark, "nodes_doc")
    assert lk.join(nd, "entity_id", "leftanti").count() == 0

    # bounded MOR: doc views got PURE-delete commits (zero appended rows),
    # graph tables appended only the touched re-adds
    for table in ("text", "nodes_doc", "edges_doc", "mentions_doc"):
        snap = cat.current_snapshot(table)
        assert snap.get("deletes"), table
        new_dir = os.path.join(wh, table, snap["dir"])
        # a pure-delete commit on a PARTITIONED view writes no data files
        # at all; on an unpartitioned one, a single zero-row part file
        appended = (
            spark.read.parquet(new_dir).count()
            if Catalog._dir_has_data(new_dir)
            else 0
        )
        assert appended == 0, table
    for table in ("nodes", "edges", "mentions"):
        snap = cat.current_snapshot(table)
        assert snap["id"] != before_snaps[table]["id"]
        assert before_snaps[table]["dir"] in snap["dirs"], table
        assert snap.get("deletes"), table
        # merge-on-read tables carry deletes: row_count must count the
        # merged read, not sum the recorded partition sizes
        assert cat.row_count(spark, table) == cat.read(spark, table).count()


def test_remove_equals_complement_build_fuzzy(spark, tmp_path):
    """Fuzzy mode — multi-key transitive closure, where removal can SPLIT
    a component (the bridging doc vanishes). The complement equality
    covers splits: any group the global pass splits must split here."""
    wh = str(tmp_path / "wh")
    wh_complement = str(tmp_path / "wh_c")
    all_pages = pages_df(spark, 36, seed=43, partitions=4)
    keep, drop = _split(all_pages)
    run_pipeline(spark, all_pages, wh, link_mode="fuzzy")
    run_pipeline(spark, keep, wh_complement, link_mode="fuzzy")

    incremental_remove(spark, drop.select("url"), wh)
    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_complement)


def test_remove_retry_idempotent_and_crash_safe(spark, tmp_path, monkeypatch):
    """A crash after the id_map commit but before the nodes commit is the
    nasty window: the doc views are already masked, so the removal sets
    can no longer be recomputed from the live views — the persisted
    removal_sets table must carry the retry. Then a SECOND full retry
    must be a pure no-op."""
    import kiwi_spark.operators.delta_link as dl

    wh = str(tmp_path / "wh")
    wh_complement = str(tmp_path / "wh_c")
    all_pages = pages_df(spark, 32, seed=47, partitions=4)
    keep, drop = _split(all_pages)
    run_pipeline(spark, all_pages, wh)
    run_pipeline(spark, keep, wh_complement)

    real = dl.materialize_nodes
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("injected crash before the nodes commit")

    monkeypatch.setattr(dl, "materialize_nodes", boom)
    with pytest.raises(RuntimeError, match="injected"):
        incremental_remove(spark, drop.select("url"), wh)
    assert calls["n"] == 1
    monkeypatch.setattr(dl, "materialize_nodes", real)

    # epoch must NOT have advanced on the crashed attempt (same batch id)
    assert int(Catalog(wh).get_property("removal_epoch", 0)) == 0

    incremental_remove(spark, drop.select("url"), wh)       # retry
    sig = _graph_signature(spark, wh)
    assert sig == _graph_signature(spark, wh_complement)

    # epoch advanced exactly once for the completed batch
    assert int(Catalog(wh).get_property("removal_epoch", 0)) == 1

    # strict retry idempotency (VERDICT r6 #6): a repeat call with the same
    # payload is a pure no-op — graph AND warehouse properties (epoch
    # included) byte-identical
    props_before = dict(Catalog(wh).properties())
    incremental_remove(spark, drop.select("url"), wh)       # full re-run
    assert _graph_signature(spark, wh) == sig
    assert dict(Catalog(wh).properties()) == props_before


def test_remove_then_readd_roundtrip(spark, tmp_path):
    """Re-ingesting previously removed urls must restore the full graph:
    the removal_epoch fence gives the re-add a fresh batch id so its rows
    append after (and out of reach of) the removal's equality deletes."""
    wh = str(tmp_path / "wh")
    wh_full = str(tmp_path / "wh_f")
    all_pages = pages_df(spark, 32, seed=53, partitions=4)
    keep, drop = _split(all_pages)
    run_pipeline(spark, all_pages, wh)
    run_pipeline(spark, all_pages, wh_full)

    incremental_remove(spark, drop.select("url"), wh)
    result = incremental_add(spark, drop, wh)
    assert "text_append" not in result.stages_skipped  # fresh batch id
    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_full)


def test_remove_everything_and_unknown_urls(spark, tmp_path):
    """Removing the whole corpus empties the graph; removing urls the
    warehouse never saw is a graceful no-op (delete-file.ts:30-32)."""
    wh = str(tmp_path / "wh")
    pages = pages_df(spark, 16, seed=59, partitions=2)
    run_pipeline(spark, pages, wh)
    cat = Catalog(wh)
    counts_before = {t: cat.read(spark, t).count() for t in ("nodes", "edges")}

    ghost = spark.createDataFrame([("https://nowhere/x",)], "url string")
    result = incremental_remove(spark, ghost, wh)
    assert result.counts["removed_entities"] == 0
    assert result.counts["touched_entities"] == 0
    for t, n in counts_before.items():
        assert cat.read(spark, t).count() == n

    result = incremental_remove(spark, pages.select("url"), wh)
    assert result.counts["nodes"] == 0
    assert result.counts["edges"] == 0
    assert result.counts["mentions"] == 0
    assert cat.read(spark, "text").count() == 0


def test_remove_maintains_search_index(spark, tmp_path):
    """Removal maintains the 5 ranked-search index tables with the same
    bounded MOR contract as the add path, and the indexed twin stays
    parity with the full-scan scorer over the post-removal graph."""
    from kiwi_spark.plans.queries import search_entities
    from kiwi_spark.plans.search_index import has_search_index, search_entities_auto

    wh = str(tmp_path / "wh")
    all_pages = pages_df(spark, 32, seed=61, partitions=4)
    keep, drop = _split(all_pages)
    run_pipeline(spark, all_pages, wh, build_search_index=True)
    cat = Catalog(wh)

    result = incremental_remove(spark, drop.select("url"), wh)
    assert "search_index" in result.stages_run
    assert has_search_index(cat)

    nodes = cat.read(spark, "nodes")
    # no stale ids: every posting row joins a live canonical node
    posting = cat.read(spark, "entity_trigrams")
    live = posting.select(F.col("id").alias("entity_id")).distinct().join(
        nodes, "entity_id", "leftanti"
    )
    assert live.count() == 0

    sample = [r["name"] for r in nodes.select("name").limit(3).collect()]
    for term in sample:
        via_index = search_entities_auto(spark, cat, nodes, term, limit=5).collect()
        full_scan = search_entities(nodes, term, limit=5).collect()
        assert [tuple(r) for r in via_index] == [tuple(r) for r in full_scan]


def test_remove_everything_on_indexed_warehouse(spark, tmp_path):
    """Review finding (round 6): emptying an INDEXED warehouse must not
    crash the index maintenance nor leave the emptied partitioned views
    unreadable after compaction; a follow-up removal and a re-add must
    still work."""
    from kiwi_spark.plans.search_index import has_search_index, search_entities_auto

    wh = str(tmp_path / "wh")
    pages = pages_df(spark, 14, seed=73, partitions=2)
    run_pipeline(spark, pages, wh, build_search_index=True)
    cat = Catalog(wh)

    # aggressive compaction so the emptied tables get rewritten too
    result = incremental_remove(
        spark, pages.select("url"), wh, compact_appends_after=2
    )
    assert result.counts["nodes"] == 0 and result.counts["edges"] == 0
    assert has_search_index(cat)

    # emptied (and possibly compacted) views stay readable
    for table in ("nodes_doc", "edges_doc", "mentions_doc", "text"):
        assert cat.read(spark, table).count() == 0
    # search over the empty graph returns empty, no crash
    empty = search_entities_auto(spark, cat, cat.read(spark, "nodes"), "ANY")
    assert empty.count() == 0

    # a ghost removal on the emptied warehouse is a no-op (removal_sets
    # recomputation reads the emptied views via the schema fallback)
    ghost = spark.createDataFrame([("https://nowhere/y",)], "url string")
    incremental_remove(spark, ghost, wh)

    # re-ingestion resurrects the graph (epoch-fenced batch ids)
    result = incremental_add(spark, pages, wh)
    assert result.counts["nodes"] > 0
    wh_ref = str(tmp_path / "ref")
    run_pipeline(spark, pages, wh_ref)
    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_ref)


def test_incremental_update_replaces_content(spark, tmp_path):
    """incremental_update (the reference's re-upload flow: delete-file
    then re-process) must leave the graph identical to a from-scratch
    build where the updated urls carry the NEW content."""
    from pyspark.sql import Window
    from pyspark.sql.functions import row_number

    from kiwi_spark.pipeline import incremental_update

    wh = str(tmp_path / "wh")
    wh_ref = str(tmp_path / "ref")
    all_pages = pages_df(spark, 28, seed=83, partitions=2)
    keep, to_update = _split(all_pages)
    assert to_update.count() > 3

    # new content for the updated urls: keep each url but give it ANOTHER
    # page's html (seed 84 world — different entities/relations)
    donor = pages_df(spark, 28, seed=84, partitions=2)
    w = Window.orderBy("url")
    lhs = to_update.select("url", "warc_ts", "lang").withColumn(
        "_i", row_number().over(w)
    )
    rhs = donor.select(F.col("html").alias("_new_html")).withColumn(
        "_i", row_number().over(Window.orderBy(F.col("_new_html")))
    )
    updated = lhs.join(rhs, "_i").select(
        "url", "warc_ts", F.col("_new_html").alias("html"),
        F.lit(None).cast("string").alias("text"), "lang",
    )
    updated = updated.localCheckpoint(eager=True)

    run_pipeline(spark, all_pages, wh)
    result = incremental_update(spark, updated, wh)
    assert "delta_remove" in result.stages_run
    assert "delta_relink" in result.stages_run

    run_pipeline(
        spark, keep.unionByName(updated), wh_ref
    )
    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_ref)


def test_mutation_lock_serializes_writers(spark, tmp_path):
    """Round 6: the single-writer discipline is enforced, not just
    documented — a second mutating entrypoint on a locked warehouse
    raises instead of interleaving commits (the local-driver stand-in
    for Iceberg's commit-conflict detection)."""
    wh = str(tmp_path / "wh")
    pages = pages_df(spark, 8, seed=89, partitions=2)
    run_pipeline(spark, pages, wh)
    cat = Catalog(wh)
    batch = pages_df(spark, 4, seed=89, partitions=2, start=8)
    with cat.mutation_lock():
        with pytest.raises(RuntimeError, match="another mutation"):
            incremental_add(spark, batch, wh)
        with pytest.raises(RuntimeError, match="another mutation"):
            incremental_remove(spark, pages.select("url"), wh)
    # lock released on exit (and on process death, per flock semantics)
    result = incremental_add(spark, batch, wh)
    assert "delta_relink" in result.stages_run
