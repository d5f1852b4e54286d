"""The pipeline DAG driver: pages → text → units → raw_graph → nodes/edges/
mentions, with per-stage snapshot checkpoints and resume.

Stage list mirrors the reference's process-step state machine
(packages/db/src/tables/graph.ts:27-38: preprocessing → chunking →
extracting → deduplicating → saving), one Iceberg-shaped snapshot per stage
(sources.catalog). ``run(resume=True)`` skips any stage whose table is
already committed — restart-from-checkpoint per BASELINE.md.

Shuffle budget of a full run (the 100 TB story):
  extract_text   0 shuffles (mapInPandas over the scan)
  units          0 shuffles (same)
  raw_graph      0 shuffles (per-url kernel; nested row per url)
  link           the only shuffles: key-bucket anchor aggs + CC iterations
                 (each a groupBy on entity ids; salted two-phase for skew)
  canonicalize   joins on entity_id/edge_id + one groupBy per output table
  materialize    repartition by bucket (write clustering)
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.build_graph import (
    explode_graph,
    explode_units,
    graph_rows_df,
    with_doc_view_buckets,
)
from .operators.extract_text import extract_text
from .operators.link import canonicalize, entity_id_map
from .operators.materialize import (
    materialize_edges,
    materialize_mentions,
    materialize_nodes,
)
from .sources.catalog import Catalog


def _single_writer(fn):
    """Serialize mutating entrypoints per warehouse (Catalog.mutation_lock).
    The wrapper binds arguments through the wrapped signature so callers
    may pass the data/warehouse parameters positionally OR by their
    documented keyword names."""
    import functools
    import inspect

    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        with Catalog(bound.arguments["warehouse"]).mutation_lock():
            return fn(*args, **kwargs)

    return wrapper


def _parallel_commits(cat: Catalog, jobs: list[tuple]) -> None:
    """Commit independent tables concurrently. Safe because manifests are
    per-table (atomic os.replace flip each); Spark schedules the concurrent
    write jobs across idle task slots, overlapping the per-job fixed
    latency that otherwise serializes (the dominant cost of the views and
    graph stages at high core counts). A job tuple is
    (df, table, stage[, commit-kwargs])."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = [
            pool.submit(
                cat.commit, job[0], job[1], stage=job[2],
                **(job[3] if len(job) > 3 else {}),
            )
            for job in jobs
        ]
        for future in futures:
            future.result()


from .plans.search_index import SEARCH_INDEX_TABLES  # single source of truth


def _commit_search_index(cat: Catalog, spark: SparkSession) -> None:
    """Build + commit the trigram posting tables over the current
    canonical graph (plans.search_index — the GIN analog)."""
    from .plans.search_index import (
        build_entity_search_index,
        build_relationship_search_index,
    )

    nodes_m = cat.read(spark, "nodes")
    edges_m = cat.read(spark, "edges")
    _parallel_commits(
        cat,
        [
            (build_entity_search_index(nodes_m), "entity_trigrams", "indexing"),
            (
                build_relationship_search_index(edges_m, nodes_m),
                "edge_trigrams",
                "indexing",
            ),
        ],
    )


def _commit_id_map(cat: Catalog, nodes_doc: DataFrame, link_mode: str,
                   batch_id: str | None = None) -> None:
    """Global cross-document linking (blocking + connected components)
    over every doc-level entity. link_keys is the persisted linking-key
    index (the reference's Postgres expression index, sql.ts:16-22) —
    incremental_add semi-joins it to find the touched set in
    O(new + touched) (operators.delta_link). ``batch_id`` tags the commits
    of a first add, so its retry's delta pass skips them."""
    from .operators.delta_link import link_keys_df

    # record the key family BEFORE the commits (as _views does the bucket
    # count): incremental batches validate against it, and a crash after
    # the commits must not leave a resumed warehouse without it
    cat.set_property("link_mode", link_mode)
    _parallel_commits(
        cat,
        [
            (entity_id_map(nodes_doc, mode=link_mode), "id_map",
             "deduplicating", {"batch_id": batch_id}),
            (link_keys_df(nodes_doc, link_mode), "link_keys",
             "deduplicating", {"batch_id": batch_id}),
        ],
    )


def _commit_graph(spark: SparkSession, cat: Catalog, nodes_doc: DataFrame,
                  edges_doc: DataFrame, mentions_doc: DataFrame,
                  batch_id: str | None = None) -> None:
    """Canonical graph over the committed id_map, materialized under the
    warehouse's recorded bucket count; ``batch_id`` as in
    ``_commit_id_map``."""
    n_buckets = int(cat.get_property("doc_view_buckets"))
    nodes, edges, mentions = canonicalize(
        nodes_doc, edges_doc, mentions_doc, cat.read(spark, "id_map")
    )
    _parallel_commits(
        cat,
        [
            (materialize_nodes(nodes, n_buckets), "nodes", "saving",
             {"batch_id": batch_id}),
            (materialize_edges(edges, n_buckets), "edges", "saving",
             {"batch_id": batch_id}),
            (materialize_mentions(mentions, n_buckets), "mentions", "saving",
             {"batch_id": batch_id}),
        ],
    )


def _doc_view_jobs(raw_graph: DataFrame, n_buckets: int) -> list[tuple]:
    """The doc-view commits of a build and of every add: units plus the
    three bucketed doc-level views with their partition specs."""
    n, e, m = with_doc_view_buckets(*explode_graph(raw_graph), n_buckets)
    return [
        (explode_units(raw_graph.select("units")), "units", "chunking", {}),
        (n, "nodes_doc", "extracting", {"partition_by": ["eb"]}),
        (
            e, "edges_doc", "extracting",
            {"partition_by": ["sb"], "sort_within": ["db"]},
        ),
        (m, "mentions_doc", "extracting", {"partition_by": ["mb"]}),
    ]


@dataclass
class PipelineResult:
    warehouse: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    timings: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)


@_single_writer
def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    link_mode: str = "parity",
    n_buckets: int = 32,
    resume: bool = False,
    build_search_index: bool = False,
) -> PipelineResult:
    cat = Catalog(warehouse)
    result = PipelineResult(warehouse=warehouse)

    def stage(name: str, build, committed_tables: list[str]):
        if resume and all(cat.exists(t) for t in committed_tables):
            result.stages_skipped.append(name)
            return
        started = time.time()
        build()
        wall = time.time() - started
        result.timings[name] = round(wall, 3)
        result.stages_run.append(name)

    # 1. text
    stage("text", lambda: cat.commit(extract_text(pages), "text", stage="preprocessing"), ["text"])
    text_df = cat.read(spark, "text").where(F.col("error_code").isNull())

    # 2+3. per-document kernel: units + extraction + within-doc dedupe in ONE
    # pass over text (chunking and extracting steps of the reference run
    # back-to-back per file; fusing avoids re-chunking the corpus)
    stage(
        "raw_graph",
        lambda: cat.commit(graph_rows_df(text_df), "raw_graph", stage="extracting"),
        ["raw_graph"],
    )
    raw_graph = cat.read(spark, "raw_graph")

    # flat views of the nested checkpoint, materialized ONCE (column-pruned
    # explodes); every downstream stage reads these small flat tables
    # instead of re-scanning the heavy nested table
    def _views():
        # property BEFORE the commits: a crash after all four views are
        # committed but before the property write would otherwise leave a
        # resume=True warehouse whose manifests declare the layout while
        # no recorded bucket count tells later batches how to fill it
        cat.set_property("doc_view_buckets", n_buckets)
        _parallel_commits(cat, _doc_view_jobs(raw_graph, n_buckets))

    stage("views", _views, ["units", "nodes_doc", "edges_doc", "mentions_doc"])

    nodes_doc = cat.read(spark, "nodes_doc")
    edges_doc = cat.read(spark, "edges_doc")
    mentions_doc = cat.read(spark, "mentions_doc")

    # 4. cross-document linking + 5. canonical graph and materialize
    stage(
        "id_map",
        lambda: _commit_id_map(cat, nodes_doc, link_mode),
        ["id_map", "link_keys"],
    )
    stage(
        "graph",
        lambda: _commit_graph(spark, cat, nodes_doc, edges_doc, mentions_doc),
        ["nodes", "edges", "mentions"],
    )

    # 5b. (opt-in) ranked-search index: the two trigram posting tables —
    # the GIN analog (plans.search_index, VERDICT r3 #4)
    if build_search_index:
        stage(
            "search_index",
            lambda: _commit_search_index(cat, spark),
            SEARCH_INDEX_TABLES,
        )

    for table in ("nodes", "edges", "mentions"):
        if cat.exists(table):
            result.counts[table] = cat.row_count(spark, table)
    return result


APPEND_COMPACT_AFTER = 16  # fast-append dirs per doc view before rewrite


def _recorded_layout(cat: Catalog, link_mode: str | None = None
                     ) -> tuple[str, int]:
    """The warehouse's recorded (link_mode, doc_view_buckets), which
    every mutation after its creation follows. A delta pass must use the
    key family link_keys/id_map were built with (ADVICE r5): raise on a
    different ``link_mode``, and on a warehouse missing either value."""
    props = cat.properties()
    if "link_mode" not in props or "doc_view_buckets" not in props:
        raise ValueError(
            f"warehouse {cat.warehouse!r} records no link_mode/"
            "doc_view_buckets property: it was written by an older "
            "version; rebuild it with run_pipeline"
        )
    stored = props["link_mode"]
    if link_mode is not None and stored != link_mode:
        raise ValueError(
            f"warehouse was linked with link_mode={stored!r}; an incremental "
            f"batch with link_mode={link_mode!r} would compute the touched "
            "set from a mismatched key family and corrupt the graph"
        )
    return stored, int(props["doc_view_buckets"])


@_single_writer
def incremental_add(
    spark: SparkSession,
    new_pages: DataFrame,
    warehouse: str,
    link_mode: str = "parity",
    n_buckets: int = 32,
    compact_appends_after: int = APPEND_COMPACT_AFTER,
    check_conflicts: bool = True,
) -> PipelineResult:
    """Incremental ingestion — the reference's operating mode (new files
    arrive, process-file.ts runs per file, then the SQL cross-file dedupe
    folds them into the existing graph).

    Spark restatement: the document-sharded stages run ONLY on the new
    pages and fast-append to the text/raw_graph/views tables (no rewrite of
    existing data); the cross-document linking + canonical graph are then
    recomputed for the canonical groups the batch touches only
    (operators.delta_link), or globally while the warehouse has no graph
    yet. Deterministic: the result equals a from-scratch run over the
    union of all pages (tested).

    ``link_mode`` and ``n_buckets`` apply only to a warehouse the call
    creates (recorded before its first commit, as ``run_pipeline`` does);
    an existing warehouse's recorded values win, and a different
    ``link_mode`` raises.

    Crash-safe: every fast-append is tagged with a deterministic batch id
    (order-insensitive xxhash64-xor over the batch's urls). A retried call
    after a mid-batch crash finds the tag in the manifest chain and skips
    already-appended tables instead of duplicating rows (tested)."""
    cat = Catalog(warehouse)
    result = PipelineResult(warehouse=warehouse)
    if not cat.tables():
        cat.set_property("link_mode", link_mode)
        cat.set_property("doc_view_buckets", n_buckets)
    link_mode, n_buckets = _recorded_layout(cat, link_mode)

    # deterministic idempotency key: one tiny distributed agg, one driver
    # row. The key hashes CONTENT as well as urls — a re-submission of the
    # same urls with changed html must NOT look like a retry (it would be
    # silently skipped and the new content lost); instead it gets a fresh
    # id and the url-conflict guard below rejects it with a pointer to
    # incremental_update. The key also carries the warehouse's
    # removal_epoch so RE-ADDING a previously removed url is a fresh
    # batch (its rows must append after the removal's equality deletes).
    sig = new_pages.agg(
        F.bit_xor(F.xxhash64("url")).alias("h"),
        F.bit_xor(F.xxhash64("url", "html")).alias("c"),
        F.count("*").alias("n"),
    ).first()
    epoch = int(cat.get_property("removal_epoch", 0))
    h, c = ((sig[k] or 0) & 0xFFFFFFFFFFFFFFFF for k in ("h", "c"))
    batch_id = f"b{h:016x}-{sig['n']}x{c:016x}-e{epoch}"

    def _append(df_builder, table: str, stage: str, layout=None):
        if cat.batch_appended(table, batch_id):
            result.stages_skipped.append(f"{table}_append")
            return
        cat.commit(df_builder(), table, stage=stage, append=True,
                   batch_id=batch_id, **(layout or {}))

    # url-conflict guard: adding a url the warehouse already holds would
    # silently duplicate its doc rows (the reference's file ids are
    # unique; a changed file goes through delete + re-process). Skipped
    # when THIS batch's text rows are already appended — a retry's own
    # urls are legitimately present. Cost: one COLUMN-PRUNED url
    # semi-join over the text table (broadcast batch side, no shuffle) —
    # the same narrow-scan class as the delta path's documented
    # O(warehouse) filter terms; an Iceberg deployment would serve it
    # from per-file url bloom filters. Producers that guarantee disjoint
    # arrivals (e.g. stream_ingest after its own conflict split) pass
    # check_conflicts=False to skip it.
    if check_conflicts and cat.exists("text") and not cat.batch_appended(
        "text", batch_id
    ):
        n_dup = (
            cat.read(spark, "text")
            .join(new_pages.select("url").distinct(), "url", "leftsemi")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"{n_dup} of the batch's urls already exist in the "
                "warehouse; use incremental_update to replace documents "
                "(or incremental_remove first)"
            )

    started = time.time()
    _append(lambda: extract_text(new_pages), "text", "preprocessing")
    result.timings["text_append"] = round(time.time() - started, 3)

    # process only the new urls through the kernel (read back from the
    # batch's own snapshot dir — no semi-join over the whole text table)
    text_new = cat.read_batch(spark, "text", batch_id).where(
        F.col("error_code").isNull()
    )
    started = time.time()
    _append(lambda: graph_rows_df(text_new), "raw_graph", "extracting")
    raw_new = cat.read_batch(spark, "raw_graph", batch_id)
    for df, table, stage, layout in _doc_view_jobs(raw_new, n_buckets):
        _append(lambda: df, table, stage, layout)
    result.timings["ingest_append"] = round(time.time() - started, 3)

    # relink: DELTA pass over the committed graph (O(new + touched),
    # operators.delta_link — VERDICT r4 #1/#2). Before the graph exists —
    # the first batch into an empty warehouse (e.g. stream_ingest's first
    # micro-batch), or a retry of one that crashed before its graph
    # commits — run the global pass of run_pipeline, which bootstraps
    # link_keys for next time. No search index exists yet in either case.
    started = time.time()
    if all(cat.exists(t) for t in ("link_keys", "nodes", "edges", "mentions")):
        from .operators.delta_link import delta_relink

        stats = delta_relink(spark, cat, batch_id, link_mode=link_mode)
        result.timings["relink"] = round(time.time() - started, 3)
        result.timings.update(
            {f"relink_{k}": v for k, v in stats.timings.items()}
        )
        result.counts["touched_entities"] = stats.n_touched_entities
        result.counts["touched_doc_edges"] = stats.n_touched_doc_edges
        result.stages_run = ["text_append", "ingest_append", "delta_relink"]
        if "search_index" in stats.timings:
            result.stages_run.append("search_index")
    else:
        # tagged with the batch id: a retry after a later crash (e.g. in
        # the auto-compaction) takes the delta path, which then skips
        # every table instead of re-appending link_keys
        nodes_doc = cat.read(spark, "nodes_doc")
        _commit_id_map(cat, nodes_doc, link_mode, batch_id)
        _commit_graph(
            spark, cat, nodes_doc, cat.read(spark, "edges_doc"),
            cat.read(spark, "mentions_doc"), batch_id,
        )
        result.timings["relink"] = round(time.time() - started, 3)
        result.stages_run = ["text_append", "ingest_append", "relink"]

    _auto_compact(spark, cat, result, compact_appends_after)

    for table in ("nodes", "edges", "mentions"):
        result.counts[table] = cat.row_count(spark, table)
    return result


def incremental_update(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    link_mode: str = "parity",
    n_buckets: int = 32,
    compact_appends_after: int = APPEND_COMPACT_AFTER,
) -> PipelineResult:
    """Replace documents in place — the reference's re-upload flow (a
    changed file is delete-file'd then re-processed; there is no in-place
    mutation in the reference either). Composition of
    ``incremental_remove(urls)`` + ``incremental_add(pages)``, executed
    under ONE mutation lock so no other writer can slip between the legs
    (a concurrent add of the same urls in that gap would strand the
    documents removed-but-not-readded until a retry).

    Crash recovery: re-run the update. A crash after the remove leg
    re-executes the removal as a FRESH batch (the completed leg bumped
    the epoch) — it finds the urls already masked, touches nothing, and
    the add leg proceeds; a crash inside either leg replays that leg
    idempotently by its batch id. Either way the retry converges to the
    same end state: ≡ a from-scratch build where these urls carry the
    new content (tested).

    ``link_mode`` must match the warehouse's (checked before the remove
    leg); ``n_buckets`` is passed to the add leg."""
    cat = Catalog(warehouse)
    with cat.mutation_lock():
        _recorded_layout(cat, link_mode)
        result = incremental_remove.__wrapped__(
            spark, pages.select("url"), warehouse,
            compact_appends_after=compact_appends_after,
        )
        add = incremental_add.__wrapped__(
            spark, pages, warehouse, link_mode=link_mode, n_buckets=n_buckets,
            compact_appends_after=compact_appends_after,
        )
    result.stages_run += add.stages_run
    result.stages_skipped += add.stages_skipped
    result.timings.update(
        {f"add_{k}" if k in result.timings else k: v
         for k, v in add.timings.items()}
    )
    result.counts.update(add.counts)
    return result


# tables whose append/delete chains the per-batch compaction bounds
_COMPACTABLE_TABLES = (
    "text", "raw_graph", "units", "nodes_doc", "edges_doc",
    "mentions_doc", "link_keys",
    # MOR graph tables: compaction also drains their delete
    # chains and restores bucket clustering
    "id_map", "nodes", "edges", "mentions",
)


def _auto_compact(spark, cat: Catalog, result: PipelineResult,
                  compact_appends_after: int) -> None:
    """Small-files + delete-chain control (the 100 TB concern with
    per-batch fast-appends): once a table's snapshot references
    compact_appends_after data dirs, rewrite it as one clean snapshot —
    Iceberg's rewrite-data-files action, amortized to 1/N of batches.
    Compaction carries batch-id provenance forward, so retried batches
    still skip."""
    if not compact_appends_after:
        return
    started = time.time()
    compacted = []
    for table in _COMPACTABLE_TABLES:
        snap = cat.current_snapshot(table) if cat.exists(table) else None
        chain = len(snap["dirs"]) if snap else 0
        deletes = len(snap.get("deletes") or []) if snap else 0
        if max(chain, deletes) >= compact_appends_after:
            cat.compact(spark, table)
            compacted.append(table)
    if compacted:
        result.timings["compact"] = round(time.time() - started, 3)
        result.counts["compacted_tables"] = len(compacted)
        result.stages_run.append("compact")


@_single_writer
def incremental_remove(
    spark: SparkSession,
    urls,
    warehouse: str,
    compact_appends_after: int = APPEND_COMPACT_AFTER,
) -> PipelineResult:
    """Remove documents from an existing warehouse — the reference's
    delete-file workflow (apps/worker/workflows/delete-file.ts:34-100,
    bulk form delete-graph-files.ts), on the delta closure machinery:
    O(removed + touched) per batch, result ≡ a from-scratch build over the
    complement corpus in both link modes (operators.delta_remove).

    ``urls`` is a DataFrame with a ``url`` column or a list of url
    strings. Urls absent from the warehouse are ignored (the reference
    returns early on an unknown fileId, delete-file.ts:30-32). A removal
    never creates a warehouse: it follows the recorded link mode and
    bucket count.

    Crash-safe and retry-idempotent: the removal's decision sets are the
    FIRST commit (tagged with the batch id) and every table mutation is
    guarded by the same tag. Mutating calls (add/remove) must be issued
    serially per warehouse and a crashed batch retried before the next
    mutation — the single-writer discipline Iceberg expects; the
    ``removal_epoch`` property fences add-batch idempotency keys across
    removals so a removed url can be re-ingested."""
    cat = Catalog(warehouse)
    result = PipelineResult(warehouse=warehouse)
    link_mode = _recorded_layout(cat)[0]

    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")

    sig = urls.agg(
        F.bit_xor(F.xxhash64("url")).alias("h"), F.count("*").alias("n")
    ).first()
    epoch = int(cat.get_property("removal_epoch", 0))
    batch_id = (
        f"rm{(sig['h'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{sig['n']}-e{epoch}"
    )

    from .operators.delta_remove import delta_unlink

    # strict retry idempotency (VERDICT r6 wrong #3): when none of the urls
    # are live AND no partial commits of this batch exist (i.e. this is a
    # repeat of an already-completed removal, or a ghost batch), the whole
    # call is a no-op — leave every warehouse property, removal_epoch
    # included, byte-identical. A crash-retry (partial commits present
    # under this epoch's batch id) still runs and bumps the epoch once.
    if not cat.batch_appended("removal_sets", batch_id):
        n_live = (
            cat.read(spark, "text").join(urls, "url", "leftsemi").count()
            if cat.exists("text")
            else 0
        )
        if n_live == 0:
            result.timings["remove"] = 0.0
            result.counts["removed_entities"] = 0
            result.counts["touched_entities"] = 0
            result.counts["touched_doc_edges"] = 0
            result.stages_run = ["delta_remove"]
            for table in ("nodes", "edges", "mentions"):
                result.counts[table] = cat.row_count(spark, table)
            return result

    started = time.time()
    stats = delta_unlink(spark, cat, urls, batch_id, link_mode=link_mode)
    result.timings["remove"] = round(time.time() - started, 3)
    result.timings.update({f"remove_{k}": v for k, v in stats.timings.items()})
    result.counts["removed_entities"] = stats.n_removed_entities
    result.counts["touched_entities"] = stats.n_touched_entities
    result.counts["touched_doc_edges"] = stats.n_touched_doc_edges
    result.stages_run = ["delta_remove"]
    if "search_index" in stats.timings:
        result.stages_run.append("search_index")

    # fence: completed removals bump the epoch so identical future batch
    # payloads (re-adds, repeated removals) get fresh idempotency keys
    cat.set_property("removal_epoch", epoch + 1)

    _auto_compact(spark, cat, result, compact_appends_after)

    for table in ("nodes", "edges", "mentions"):
        result.counts[table] = cat.row_count(spark, table)

    # the removal's decision sets are dead once the epoch advanced (only
    # an in-flight retry of THIS batch ever reads them); dropping the
    # table bounds its otherwise-monotonic growth under sustained removal
    cat.drop("removal_sets")
    return result
