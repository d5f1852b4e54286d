"""Per-layer metrics, derived from the spans of a traced run.

Every metric is reported on every workload; a layer the workload does not
exercise reads 0. Times are seconds per operation of the kind named in the
table of ``perfbench/README.md`` (a full build, a graph tool call, a
curation pass). Catalog commits are attributed to the layer whose table
they write (Spark evaluates lazily, so a stage's work surfaces at its
commit): ``text`` → extract_text; ``raw_graph`` and the doc views →
build_graph; ``id_map``/``link_keys`` and the canonical tables →
link/materialize. Counts that need a scan of the result (error share,
index rows examined) are probed after the run, outside every timer.
"""

from __future__ import annotations

import statistics

from . import tracing

BUILD_GRAPH_TABLES = {"raw_graph", "units", "nodes_doc", "edges_doc", "mentions_doc"}
ID_MAP_TABLES = {"id_map", "link_keys"}
GRAPH_TABLES = {"nodes", "edges", "mentions"}
TOOLS = ("lookup_entity", "get_entity_neighbours", "get_entity_sources",
         "search_entities_auto")

# name -> unit; BENCHMARK.json lists the same names
PER_LAYER = {
    "extract_text.commit_s": "s",
    "extract_text.error_share": "ratio",
    "build_graph.commit_s": "s",
    "build_graph.core_ms_per_page": "ms",
    "build_graph.mentions": "count",
    "link.id_map_s": "s",
    "link.graph_commit_s": "s",
    "link.merge_ratio": "ratio",
    "catalog.commit_s": "s",
    "catalog.bytes_written_per_input_byte": "ratio",
    "search_index.build_s": "s",
    "search_index.rows_examined_per_result": "ratio",
    **{f"queries.{tool}_s": "s" for tool in TOOLS},
    "queries.jobs_per_query": "count",
    "dedup.minhash_s": "s",
    "dedup.candidates": "count",
    "dedup.verify_yield": "ratio",
    "dedup.simhash_s": "s",
    "textstats.s": "s",
    "pipeline.jobs_per_stage": "count",
    "pipeline.busy_share": "ratio",
    "trace.self_s": "s",
    "trace.overhead_share": "ratio",
}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def probe(spark, op) -> dict:
    """Counts for one traced operation, read back from its warehouse."""
    from pyspark.sql import functions as F

    from kiwi_spark.plans.queries import _trigrams, unique_terms
    from kiwi_spark.sources.catalog import Catalog

    cat = Catalog(op.info["warehouse"])
    if op.kind == "read":
        grams = sorted(set().union(*(_trigrams(t) for t in unique_terms([op.info["query"]]))))
        examined = cat.read(spark, "entity_trigrams").where(F.col("gram").isin(grams)).count()
        return {"rows_examined_per_result": examined / max(len(op.info["out"]), 1)}
    text = cat.read(spark, "text")
    return {"error_share": text.where(F.col("error_code").isNotNull()).count()
            / max(text.count(), 1)}


def compute(spark, workload, ops, tracer) -> dict:
    """``ops``: the traced operations, in order. Their warehouses are
    probed before the metrics are derived."""
    spans = tracer.spans
    index = tracing.children_index(spans)
    probes = {o.span["id"]: probe(spark, o) for o in ops
              if o.span and "warehouse" in o.info and (o.kind != "read" or "query" in o.info)}
    m = {name: 0.0 for name in PER_LAYER}

    def under(rec, name):
        return [d for d in tracing.descendants(spans, rec, index) if d["name"] == name]

    def jobs(rec):
        return rec["jobs"] + sum(d["jobs"] for d in tracing.descendants(spans, rec, index))

    builds = [o for o in ops if o.kind == "build" and o.span]
    for op in builds:
        commits = under(op.span, "catalog.commit")
        # the index tables' commits count as search_index, not as a stage
        skip = {d["id"] for s in under(op.span, "search_index.build")
                for d in tracing.descendants(spans, s, index)}

        def secs(tables):
            return sum(tracing.duration(c) for c in commits
                       if c["table"] in tables and c["id"] not in skip)

        def rows(table):
            return sum(c.get("rows", 0) for c in commits if c["table"] == table)

        n = len(builds)
        m["extract_text.commit_s"] += secs({"text"}) / n
        m["build_graph.commit_s"] += secs(BUILD_GRAPH_TABLES) / n
        m["build_graph.core_ms_per_page"] += secs({"raw_graph"}) * 1000 / op.items / n
        m["build_graph.mentions"] += rows("mentions_doc") / n
        m["link.id_map_s"] += secs(ID_MAP_TABLES) / n
        m["link.graph_commit_s"] += secs(GRAPH_TABLES) / n
        m["link.merge_ratio"] += rows("nodes_doc") / max(rows("nodes"), 1) / n
        m["extract_text.error_share"] += probes[op.span["id"]]["error_share"] / n
        m["search_index.build_s"] += sum(
            tracing.duration(s) for s in under(op.span, "search_index.build")) / n
        m["catalog.commit_s"] += sum(tracing.duration(c) for c in commits) / n
        m["catalog.bytes_written_per_input_byte"] += (
            sum(c.get("bytes", 0) for c in commits) / workload.input_bytes / n)
        stages = getattr(op.info.get("result"), "stages_run", None)
        if stages:
            m["pipeline.jobs_per_stage"] += jobs(op.span) / len(stages) / n

    reads = [o for o in ops if o.kind == "read" and o.span]
    for tool in TOOLS:
        m[f"queries.{tool}_s"] = _median(o.wall for o in reads if o.info["tool"] == tool)
    m["queries.jobs_per_query"] = _mean(jobs(o.span) for o in reads)
    m["search_index.rows_examined_per_result"] = _mean(
        probes[o.span["id"]]["rows_examined_per_result"]
        for o in reads if o.span["id"] in probes)

    passes = [o for o in ops if o.info.get("calls")]
    calls = [c for o in passes for c in o.info["calls"]]
    m["dedup.minhash_s"] = _median(c.wall for c in calls if c.info["call"] == "minhash")
    m["dedup.simhash_s"] = _median(c.wall for c in calls if c.info["call"] == "simhash")
    m["textstats.s"] = _median(
        sum(c.wall for c in o.info["calls"] if c.info["call"] in ("lang_id", "text_quality"))
        for o in passes)
    oracle = getattr(workload, "oracle", None)
    if oracle:
        m["dedup.candidates"] = float(oracle["candidates"])
        m["dedup.verify_yield"] = oracle["pairs"] / max(oracle["candidates"], 1)

    primary = [o for o in ops if o.kind == workload.primary and o.wall == o.wall]
    m["pipeline.busy_share"] = _mean(o.info.get("busy_share", 0.0) for o in primary)
    timed = sum(o.wall for o in primary) + sum(o.wall for o in reads)
    # the tracer's own bookkeeping: what tracing adds to the timed work
    m["trace.self_s"] = tracer.self_s / max(len(primary), 1)
    m["trace.overhead_share"] = tracer.self_s / timed if timed else 0.0
    return {name: (m[name], PER_LAYER[name]) for name in PER_LAYER}
