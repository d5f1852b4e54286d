"""Long-chain merge-on-read soak (VERDICT r5 #3): the evidence the 100-TB
operating story needs — a warehouse driven through dozens of interleaved
incremental adds, removals, auto-compactions and one injected crash-retry
must stay exactly equal to a from-scratch build on the net corpus, with
bounded append/delete chains and bounded per-read file counts."""

import os

import pytest
from pyspark.sql import functions as F

from kiwi_spark.pipeline import (
    incremental_add,
    incremental_remove,
    run_pipeline,
)
from kiwi_spark.sources.catalog import Catalog
from kiwi_spark.sources.pages import pages_df

COMPACT_AFTER = 4          # aggressive compaction cadence for the soak
N_BATCHES = 24             # adds; removals interleave on top


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


def _live_file_count(cat: Catalog, table: str) -> int:
    total = 0
    for path in cat.paths(table):
        for _root, _dirs, files in os.walk(path):
            total += sum(1 for f in files if f.endswith(".parquet"))
    return total


@pytest.mark.slow
def test_mor_warehouse_soak(spark, tmp_path, monkeypatch):
    """24 add batches (6 pages each, one shared alias world so batches
    keep touching each other's groups) + 3 removals of earlier batches +
    1 injected crash-retry, compacting every 4 chain links. End state ≡
    from-scratch on the net corpus; chains and read amplification stay
    bounded throughout."""
    import kiwi_spark.operators.delta_link as dl

    wh = str(tmp_path / "wh_soak")
    seed = 97
    batch_pages = 6

    def batch(i):
        return pages_df(
            spark, batch_pages, seed=seed, partitions=2, start=i * batch_pages
        )

    run_pipeline(
        spark, batch(0), wh,
    )
    cat = Catalog(wh)
    live = {0}
    removed_urls: set[str] = set()

    crash_at = 9
    remove_at = {7: 2, 14: 5, 20: 11}  # after add i, remove batch j's urls

    max_chain = 0
    max_deletes = 0
    max_files = 0
    for i in range(1, N_BATCHES):
        if i == crash_at:
            real = dl.materialize_nodes
            first = {"armed": True}

            def boom(*a, **k):
                if first["armed"]:
                    first["armed"] = False
                    raise RuntimeError("injected soak crash")
                return real(*a, **k)

            monkeypatch.setattr(dl, "materialize_nodes", boom)
            with pytest.raises(RuntimeError, match="injected soak crash"):
                incremental_add(
                    spark, batch(i), wh, compact_appends_after=COMPACT_AFTER
                )
            monkeypatch.setattr(dl, "materialize_nodes", real)
        incremental_add(
            spark, batch(i), wh, compact_appends_after=COMPACT_AFTER
        )
        live.add(i)

        j = remove_at.get(i)
        if j is not None:
            urls = batch(j).select("url")
            incremental_remove(
                spark, urls, wh, compact_appends_after=COMPACT_AFTER
            )
            live.discard(j)
            removed_urls |= {r["url"] for r in urls.collect()}

        for table in ("text", "nodes_doc", "edges_doc", "mentions_doc",
                      "id_map", "nodes", "edges", "mentions", "link_keys"):
            snap = cat.current_snapshot(table)
            chain = len(snap.get("dirs") or [])
            dels = len(snap.get("deletes") or [])
            max_chain = max(max_chain, chain)
            max_deletes = max(max_deletes, dels)
            # the auto-compaction keeps every chain strictly below
            # 2 × threshold at every step — the bounded-read-amplification
            # invariant (a chain link adds at most one anti-join)
            assert chain < 2 * COMPACT_AFTER + 1, (table, i, chain)
            assert dels < 2 * COMPACT_AFTER + 1, (table, i, dels)
        max_files = max(max_files, _live_file_count(cat, "nodes"))

    # net corpus = all live batches' pages minus removed urls
    all_live = batch(sorted(live)[0])
    for i in sorted(live)[1:]:
        all_live = all_live.unionByName(batch(i))
    net = all_live.where(~F.col("url").isin(sorted(removed_urls)))

    wh_ref = str(tmp_path / "wh_ref")
    run_pipeline(spark, net, wh_ref)
    assert _graph_signature(spark, wh) == _graph_signature(spark, wh_ref)

    # bounded read amplification: the nodes read never fans past
    # chain-bound × per-snapshot file bound (buckets + a small constant)
    assert max_files < (2 * COMPACT_AFTER + 1) * 40, max_files

    # soak stats end up in BENCH/BASELINE.md; keep them greppable here
    print(
        f"SOAK max_chain={max_chain} max_deletes={max_deletes} "
        f"max_nodes_files={max_files} batches={N_BATCHES} removals=3"
    )
