"""Incremental ingestion: appending pages then relinking must produce the
exact same canonical graph as a from-scratch run over all pages."""

from pyspark.sql import functions as F

from kiwi_spark.pipeline import incremental_add, run_pipeline
from kiwi_spark.sources.catalog import Catalog
from kiwi_spark.sources.pages import pages_df

SEED = 21


def _graph_signature(spark, warehouse):
    cat = Catalog(warehouse)
    nodes = {
        (r["entity_id"], r["name"], r["type"], r["n_sources"])
        for r in cat.read(spark, "nodes").collect()
    }
    edges = {
        (r["edge_id"], r["src_id"], r["dst_id"], r["pred"], r["strength"], r["n_sources"])
        for r in cat.read(spark, "edges").collect()
    }
    mentions = cat.read(spark, "mentions").count()
    return nodes, edges, mentions


def test_incremental_equals_full_run(spark, tmp_path):
    wh_full = str(tmp_path / "full")
    wh_incr = str(tmp_path / "incr")

    all_pages = pages_df(spark, 50, seed=SEED, partitions=4)
    first = all_pages.where(F.col("url") < "https://n")  # deterministic split
    rest = all_pages.where(~(F.col("url") < "https://n"))
    n_first, n_rest = first.count(), rest.count()
    assert n_first > 5 and n_rest > 5 and n_first + n_rest == 50

    run_pipeline(spark, all_pages, wh_full)
    run_pipeline(spark, first, wh_incr)
    result = incremental_add(spark, rest, wh_incr)
    assert result.counts["nodes"] > 0

    assert _graph_signature(spark, wh_incr) == _graph_signature(spark, wh_full)

    # the text table is the union, served from append snapshots
    cat = Catalog(wh_incr)
    assert cat.read(spark, "text").count() == 50
    assert len(cat.paths("text")) == 2  # fast-append: base + delta dirs


def test_stream_ingest_folds_arriving_files(spark, tmp_path):
    """Structured-Streaming ingestion (round 6): page files arriving in a
    directory fold into the warehouse via foreachBatch → incremental_add.
    Draining twice with a checkpoint processes each file exactly once,
    and the end state equals a from-scratch build on everything that
    arrived."""
    from pyspark.sql import functions as F

    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df
    from kiwi_spark.streaming.ingest import stream_ingest

    pages_dir = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    wh_ref = str(tmp_path / "ref")
    import os

    os.makedirs(pages_dir, exist_ok=True)

    first = pages_df(spark, 14, seed=91, partitions=1)
    first.coalesce(1).write.mode("append").parquet(pages_dir)
    stream_ingest(spark, pages_dir, wh, ckpt, max_files_per_batch=1)
    cat = Catalog(wh)
    n1 = cat.read(spark, "nodes").count()
    assert n1 > 0

    # second arrival: only the NEW file is processed on the next drain
    second = pages_df(spark, 10, seed=91, partitions=1, start=14)
    second.coalesce(1).write.mode("append").parquet(pages_dir)
    stream_ingest(spark, pages_dir, wh, ckpt, max_files_per_batch=1)

    # a third drain with nothing new is a no-op (checkpoint + batch ids)
    stream_ingest(spark, pages_dir, wh, ckpt, max_files_per_batch=1)

    run_pipeline(
        spark, first.unionByName(second), wh_ref
    )
    ref = Catalog(wh_ref)
    got = {
        (r["entity_id"], r["name"], r["n_sources"], r["description"])
        for r in cat.read(spark, "nodes").collect()
    }
    want = {
        (r["entity_id"], r["name"], r["n_sources"], r["description"])
        for r in ref.read(spark, "nodes").collect()
    }
    assert got == want
    assert (
        cat.read(spark, "edges").count() == ref.read(spark, "edges").count()
    )
    # the stream-started warehouse has the build's layout: the same
    # recorded properties and bucketed doc views
    assert cat.properties().keys() == ref.properties().keys()
    for table in ("units", "nodes_doc", "edges_doc", "mentions_doc"):
        layout = [
            (m.get("partition_by"), m.get("sort_within"))
            for m in (c._read_manifest(table) for c in (cat, ref))
        ]
        assert layout[0] == layout[1], table
    # text arrived exactly once per url
    dup = (
        cat.read(spark, "text").groupBy("url").count().where(F.col("count") > 1)
    )
    assert dup.count() == 0


def test_first_add_retried_after_crash_before_graph(spark, tmp_path,
                                                   monkeypatch):
    """The first add into an empty warehouse runs the global pass; a
    crash after its link_keys commit but before the graph commits is
    retried with the global pass again (the delta pass needs the graph
    tables), and ends equal to a from-scratch build."""
    import pytest

    wh = str(tmp_path / "wh")
    wh_ref = str(tmp_path / "ref")
    pages = pages_df(spark, 12, seed=95, partitions=2)
    real_commit = Catalog.commit

    def crashing_commit(self, df, table, *args, **kwargs):
        if table == "edges":
            raise RuntimeError("simulated crash in the edges commit")
        return real_commit(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Catalog, "commit", crashing_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_add(spark, pages, wh)
    monkeypatch.setattr(Catalog, "commit", real_commit)
    assert Catalog(wh).exists("link_keys")

    result = incremental_add(spark, pages, wh)
    assert "relink" in result.stages_run
    run_pipeline(spark, pages, wh_ref)
    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_ref)


def test_first_add_retried_after_crash_in_compaction(spark, tmp_path,
                                                     monkeypatch):
    """A first add that crashes after its global-pass commits (here in
    the auto-compaction) is retried through the delta pass, which must
    find every table already tagged with the batch id and append
    nothing: link_keys stays free of duplicate rows."""
    import pytest

    from kiwi_spark import pipeline

    wh = str(tmp_path / "wh")
    pages = pages_df(spark, 8, seed=5)
    real_compact = pipeline._auto_compact

    def crashing_compact(*args, **kwargs):
        raise RuntimeError("simulated crash in the auto-compaction")

    monkeypatch.setattr(pipeline, "_auto_compact", crashing_compact)
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_add(spark, pages, wh)
    monkeypatch.setattr(pipeline, "_auto_compact", real_compact)

    result = incremental_add(spark, pages, wh)
    assert "delta_relink" in result.stages_run
    keys = Catalog(wh).read(spark, "link_keys")
    n_keys = keys.count()
    assert n_keys > 0
    assert n_keys == keys.select("entity_id", "key").distinct().count()


def test_add_of_existing_urls_raises(spark, tmp_path):
    """Round 6: re-adding urls the warehouse already holds must raise
    (silent double-ingestion would corrupt n_sources and duplicate doc
    rows) — while genuine retries of the SAME batch stay idempotent
    (covered elsewhere) and re-adds after a removal stay legal."""
    import pytest

    from kiwi_spark.pipeline import incremental_add, incremental_remove
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh")
    pages = pages_df(spark, 12, seed=93, partitions=2)
    run_pipeline(spark, pages, wh)

    overlapping = pages.limit(4)
    with pytest.raises(ValueError, match="already exist"):
        incremental_add(spark, overlapping, wh)

    # after removing them, re-adding is legal again
    incremental_remove(spark, overlapping.select("url"), wh)
    result = incremental_add(spark, overlapping, wh)
    assert "delta_relink" in result.stages_run


def test_stream_ingest_reupload_updates_in_place(spark, tmp_path):
    """Review finding (round 6): a re-delivered file (same urls, NEW
    content) arriving in the stream must not wedge the query — the
    default on_conflict='update' replaces those documents via the
    remove+re-add flow, and the end state equals a from-scratch build on
    the latest content."""
    from kiwi_spark.sources.catalog import Catalog
    from kiwi_spark.sources.pages import pages_df
    from kiwi_spark.streaming.ingest import stream_ingest

    import os

    pages_dir = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    wh = str(tmp_path / "wh")
    wh_ref = str(tmp_path / "ref")
    os.makedirs(pages_dir, exist_ok=True)

    first = pages_df(spark, 10, seed=95, partitions=1)
    first.coalesce(1).write.mode("append").parquet(pages_dir)
    stream_ingest(spark, pages_dir, wh, ckpt)

    # re-deliver the same urls with DIFFERENT html (donor world 96)
    from pyspark.sql import Window
    from pyspark.sql.functions import row_number

    donor = pages_df(spark, 10, seed=96, partitions=1)
    w = Window.orderBy("url")
    redelivered = (
        first.select("url", "warc_ts", "lang")
        .withColumn("_i", row_number().over(w))
        .join(
            donor.select(F.col("html").alias("_h")).withColumn(
                "_i", row_number().over(Window.orderBy("_h"))
            ),
            "_i",
        )
        .select("url", "warc_ts", F.col("_h").alias("html"),
                F.lit(None).cast("string").alias("text"), "lang")
        .localCheckpoint(eager=True)
    )
    redelivered.coalesce(1).write.mode("append").parquet(pages_dir)
    stream_ingest(spark, pages_dir, wh, ckpt)

    run_pipeline(spark, redelivered, wh_ref)
    cat, ref = Catalog(wh), Catalog(wh_ref)
    got = {
        (r["entity_id"], r["name"], r["n_sources"], r["description"])
        for r in cat.read(spark, "nodes").collect()
    }
    want = {
        (r["entity_id"], r["name"], r["n_sources"], r["description"])
        for r in ref.read(spark, "nodes").collect()
    }
    assert got == want


def test_changed_content_same_urls_rejected_not_skipped(spark, tmp_path):
    """Review finding (round 6): re-submitting the SAME urls with CHANGED
    html must not be mistaken for a retry (url-only batch ids made it a
    silent no-op that lost the new content) — the content-aware id gives
    it a fresh identity and the conflict guard rejects it explicitly."""
    import pytest

    from kiwi_spark.pipeline import incremental_add
    from kiwi_spark.sources.pages import pages_df

    wh = str(tmp_path / "wh")
    base = pages_df(spark, 10, seed=97, partitions=2)
    batch = pages_df(spark, 6, seed=97, partitions=2, start=10)
    run_pipeline(spark, base, wh)
    # keyword-style call must work through the lock wrapper
    incremental_add(spark, new_pages=batch, warehouse=wh)

    changed = batch.withColumn(
        "html",
        F.concat(F.col("html"), F.lit(b"<p>Updated Body Entity.</p>")),
    )
    with pytest.raises(ValueError, match="already exist"):
        incremental_add(spark, changed, wh)
