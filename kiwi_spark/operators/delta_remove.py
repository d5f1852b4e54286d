"""Incremental document removal — the reference's delete-file workflow
(apps/worker/workflows/delete-file.ts:34-100, delete-graph-files.ts),
restated on the delta-relink closure machinery so a removal costs
O(removed + touched), not a from-scratch rebuild. Only finding the touched
set is removal-specific; the recompute and the commits that follow are
``delta_link.apply_touched`` and ``maintain_search_index``, the same code
an add runs.

Reference semantics per file: cascade-delete the file's text units
(delete-file.ts:52), delete entities/relationships whose LAST source came
from that file (:57-82 — the NOT EXISTS sources guard), keep survivors and
refresh their descriptions from the remaining sources (:117-132 via
update-descriptions). This engine's canonical rows are *derived* from the
doc-level views, so the Spark restatement is stronger than the reference's
row surgery: mask the removed urls' doc rows, recompute every canonical
group that could have changed, and the result provably equals a
from-scratch build over the complement corpus — including group SPLITS
(removing the only document that bridged two entity clusters), which the
reference's keep-the-merged-entity approach cannot express.

Correctness rests on the delta-relink closure properties run symmetrically
(operators/delta_link.py docstring). With E_r = the removed urls' doc-level
entities and E_t = the full membership of every current canonical group
containing an E_r member:

1. **Touched-set closure (removal form).** Linking keys are attributes of
   doc-level entities, so removal deletes key rows but never adds any. A
   blocking bucket is a subset of one component (star-edge soundness), so
   any bucket containing a removed entity lies inside a touched group; a
   bucket with no removed member keeps its members, its anchor and its
   acronym activation unchanged. Hence an edge of the complement corpus's
   linking graph either has both endpoints in E_t's survivors or both
   outside E_t — no edge crosses the boundary (two entities sharing a key
   in the complement shared it before removal and were already one
   component). Re-running ``entity_id_map`` over the surviving touched doc
   rows therefore reproduces the global complement result for the touched
   groups, and every untouched group is byte-identical (its min-id
   canonical row included).

2. **Deletion predicate.** Every stale canonical id — including ids of
   groups that vanish because their last member was removed — is the min
   member of a touched group, i.e. ∈ E_t. Masks: nodes by
   ``entity_id ∈ E_t``; edges by ``endpoint ∈ E_t`` (a dirty edge group's
   endpoints are touched canonical ids); mentions by ``entity_id ∈ E_t``
   or ``edge_id ∈ touched doc-edge ids`` (a dirty group's canonical edge
   id is one of its member doc-edge ids, all of which have a touched
   endpoint).

3. **Dirty edge groups re-aggregate from surviving touched doc-edges
   alone** — ``aggregate_edges`` is a commutative monoid, so no
   subtraction from old aggregates is needed; member doc-edges that
   vanished with their url are simply absent from the re-aggregation.

**Retry safety.** Unlike an append batch, a removal's inputs are destroyed
by its own commits: once the doc views mask ``url ∈ removed``, E_r can no
longer be recomputed from the live view. The batch therefore PERSISTS its
decision sets — (id, kind) rows for E_r / E_t / touched doc-edge ids — as
the FIRST commit (``removal_sets``, tagged with the batch id); a retried
batch reads them back instead of recomputing, making every later commit
idempotent regardless of which tables the crashed attempt reached. All
mutations are merge-on-read equality-delete commits (sources.catalog), so
written bytes are O(touched) and the removed rows stay physically present
in earlier snapshots until compaction — the Iceberg position/equality
delete lifecycle.

**Re-ingestion after removal** works because an ``incremental_add`` batch
id carries the warehouse's ``removal_epoch`` (pipeline.py): re-adding a
previously removed url is a NEW batch id, so its rows append after (and
out-of-reach of) the removal's deletes instead of being skipped by the
idempotency check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .delta_link import (
    DeltaStats,
    _pruned,
    _view_buckets,
    apply_touched,
    maintain_search_index,
)

# doc-level views masked by url when their document is removed
DOC_VIEWS_BY_URL = ("text", "raw_graph", "units", "nodes_doc", "edges_doc",
                    "mentions_doc")


def removal_sets(
    spark: SparkSession,
    cat,
    urls: DataFrame,
    batch_id: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(e_r, e_t, touched_edge_ids) for a removal batch — computed from the
    pre-removal views on first call, then COMMITTED (``removal_sets``
    table, one (id, kind) row each) so a crash-retry replays the exact
    same sets after the views have already been masked."""
    if not cat.batch_appended("removal_sets", batch_id):
        nodes_doc = cat.read(spark, "nodes_doc")
        e_r = (
            nodes_doc.join(urls.select("url"), "url", "leftsemi")
            .select("entity_id")
            .distinct()
        )
        id_map = cat.read(spark, "id_map")
        affected = (
            id_map.join(e_r, "entity_id", "leftsemi")
            .select("canonical_id")
            .distinct()
        )
        e_t = (
            id_map.join(affected, "canonical_id", "leftsemi")
            .select("entity_id")
            .unionByName(e_r)
            .distinct()
        )
        bs0 = _view_buckets(cat, e_t, "entity_id")
        edges_doc = cat.read(spark, "edges_doc")
        touched_edges = (
            _pruned(edges_doc, "sb", bs0)
            .join(
                e_t.withColumnRenamed("entity_id", "src_id"), "src_id",
                "leftsemi",
            )
            .select("edge_id")
            .unionByName(
                _pruned(edges_doc, "db", bs0).join(
                    e_t.withColumnRenamed("entity_id", "dst_id"), "dst_id",
                    "leftsemi",
                ).select("edge_id")
            )
            .distinct()
        )
        sets_df = (
            e_r.select(F.col("entity_id").alias("id"), F.lit("removed").alias("kind"))
            .unionByName(
                e_t.select(F.col("entity_id").alias("id"), F.lit("touched").alias("kind"))
            )
            .unionByName(
                touched_edges.select(F.col("edge_id").alias("id"), F.lit("edge").alias("kind"))
            )
        )
        cat.commit(sets_df, "removal_sets", stage="deleting", append=True,
                   batch_id=batch_id)
    sets = cat.read_batch(spark, "removal_sets", batch_id)
    e_r = sets.where(F.col("kind") == "removed").select(
        F.col("id").alias("entity_id")
    )
    e_t = sets.where(F.col("kind") == "touched").select(
        F.col("id").alias("entity_id")
    ).localCheckpoint(eager=True)
    touched_edge_ids = sets.where(F.col("kind") == "edge").select(
        F.col("id").alias("edge_id")
    ).localCheckpoint(eager=True)
    return e_r, e_t, touched_edge_ids


def _mask_by(spark, cat, table: str, keys: DataFrame, on: list[str],
             batch_id: str, stage: str) -> None:
    """Pure-delete MOR commit: append NO rows, equality-delete ``on`` keys
    from all earlier snapshots (written bytes = the key set only)."""
    if cat.batch_appended(table, batch_id):
        return
    empty = spark.createDataFrame([], cat.table_schema(table))
    cat.commit(empty, table, stage=stage, append=True, batch_id=batch_id,
               delete_sets=[(keys, on)])


def delta_unlink(
    spark: SparkSession,
    cat,
    urls: DataFrame,
    batch_id: str,
    link_mode: str = "parity",
) -> DeltaStats:
    """Remove the given urls' documents from the warehouse: mask their doc
    rows, recompute the touched canonical groups from the survivors, mask
    stale canonical rows — result ≡ a from-scratch build on the complement
    corpus (tested for both link modes). Retry-idempotent via the
    persisted removal sets + per-table batch tags."""
    import time as _time

    stats = DeltaStats()
    t0 = _time.time()
    urls = urls.select("url").distinct().localCheckpoint(eager=True)
    e_r, e_t, touched_edge_ids = removal_sets(spark, cat, urls, batch_id)
    stats.n_removed_entities = e_r.count()
    stats.n_touched_entities = e_t.count()
    stats.n_touched_doc_edges = touched_edge_ids.count()
    stats.timings["touched"] = round(_time.time() - t0, 3)

    # --- mask the removed documents' doc-level rows ----------------------
    # (the reference's cascade text-unit delete, delete-file.ts:52; `text`
    # doubles as the files table so the file row vanishes from list_files)
    t0 = _time.time()
    for table in DOC_VIEWS_BY_URL:
        _mask_by(spark, cat, table, urls, ["url"], batch_id, "deleting")
    _mask_by(spark, cat, "link_keys", e_r, ["entity_id"], batch_id, "deleting")
    stats.timings["mask_docs"] = round(_time.time() - t0, 3)

    # --- the touched doc rows, read from the SURVIVING (just-masked) views:
    # ``Catalog.read`` fixes the snapshot when it is called, so these reads
    # must follow the masks above. Touched-bucket pre-filters prune the
    # doc-view scans (partition dirs for eb/sb/mb, row-group stats for db)
    # exactly as in the add path.
    bs = _view_buckets(cat, e_t, "entity_id")
    ebs = _view_buckets(cat, touched_edge_ids, "edge_id")
    survivors = e_t.join(e_r, "entity_id", "leftanti")
    touched_nodes_doc = (
        _pruned(cat.read(spark, "nodes_doc"), "eb", bs)
        .join(survivors, "entity_id", "leftsemi")
        .localCheckpoint(eager=False)
    )
    # every touched edge has an endpoint in E_t, so the id semi-join only
    # needs the union of the two bucket-pruned endpoint legs
    edges_doc = cat.read(spark, "edges_doc")
    surviving_touched_edges = (
        _pruned(edges_doc, "sb", bs)
        .join(touched_edge_ids, "edge_id", "leftsemi")
        .unionByName(
            _pruned(edges_doc, "db", bs).join(
                touched_edge_ids, "edge_id", "leftsemi"
            )
        )
        .dropDuplicates(["edge_id"])
    )
    mentions_doc = cat.read(spark, "mentions_doc")
    touched_mentions_doc = (
        _pruned(mentions_doc, "mb", bs)
        .join(survivors, "entity_id", "leftsemi")
        .unionByName(
            _pruned(mentions_doc, "mb", ebs).join(
                touched_edge_ids, "edge_id", "leftsemi"
            )
        )
        .dropDuplicates(["mention_id"])
    )

    edge_index_mask = apply_touched(
        spark, cat, batch_id, e_t, touched_nodes_doc, surviving_touched_edges,
        touched_mentions_doc, touched_edge_ids, link_mode, stats.timings,
    )
    maintain_search_index(
        spark, cat, e_t, batch_id, edge_index_mask, stats.timings
    )
    return stats
