"""The benchmark's workloads. Each is a closed loop with one client: the
next operation is submitted only after the previous one returned.

* ``build`` — one operation is a full ``run_pipeline(...,
  build_search_index=True)`` over seeded pages read from parquet (parse,
  chunk, extract, within-document dedupe, cross-document link,
  materialize, ranked-search index) in the run's fresh Spark session,
  followed by Zipf-picked graph tool calls on the committed warehouse.
* ``curate`` — one operation is a corpus-curation pass over seeded
  documents with planted duplicates: ``dedup.minhash_lsh_pairs``,
  ``dedup.simhash_pairs``, ``textstats.lang_id``, ``textstats.text_quality``.

Every operation's output is checked (``gates``) outside the timed region.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass, field

from . import gates, inputs, tracing

CORES = 4  # local[4]: the sizing host's nproc, pinned so every host runs the same plan

SIZES = {
    "build": {"pages": 200},
    "curate": {"docs": 600},
}


@dataclass
class Op:
    kind: str
    wall: float
    items: int = 0
    ok: bool = False
    span: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def _timed(fn):
    started = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - started


def zipf_pick(rng: random.Random, ranked: list, s: float = 1.1):
    """Pick from ``ranked`` (most popular first) with Zipf(s) weights."""
    weights = [1.0 / (rank + 1) ** s for rank in range(len(ranked))]
    return rng.choices(ranked, weights=weights, k=1)[0]


class Workload:
    """Shared plumbing. Subclasses define ``prepare`` (inputs and reference
    answers, no Spark: it runs while the session starts), ``setup`` (the
    warm-up in the session) and ``round`` (one timed operation)."""

    primary = ""  # the op kind the end-to-end metrics summarise

    def __init__(self, root: str, work: str, seed: int, traced: bool) -> None:
        self.root = root
        self.work = work
        self.seed = seed
        self.traced = traced
        self.sizes = SIZES[self.name]
        self.spark = None
        self.jvm_pid = 0
        self.rounds = 0
        self.input_bytes = 0

    def cpu_s(self) -> float:
        """CPU seconds the engine has used: the driver JVM and the Python
        workers it started, plus this process's calling thread (the
        engine's orchestration code; the benchmark's sampler thread is
        left out)."""
        return tracing.tree_usage(self.jvm_pid)[1] + time.thread_time()

    def run_primary(self, tracer, kind: str, items: int, fn, **attrs) -> Op:
        """Time one workload operation (CPU sampled outside the timer)."""
        cpu0 = self.cpu_s()
        with tracer.op(f"op.{kind}", items=items, **attrs) as span:
            out, wall = _timed(fn)
        op = Op(kind, wall, items, span=span)
        op.info["cpu_s"] = self.cpu_s() - cpu0
        op.info["busy_share"] = op.info["cpu_s"] / (wall * CORES)
        op.info["result"] = out
        return op


def warm_up(spark, input_dir: str) -> None:
    """The session's first job over the inputs: it starts the Python worker
    daemon and its workers and loads the parquet reader, so the first timed
    operation does not pay for them. The operators' own plans stay cold:
    every run measures a fresh session, as a batch job runs."""
    spark.read.parquet(input_dir).rdd.map(len).count()


# -- build -------------------------------------------------------------------------


class BuildWorkload(Workload):
    name = "build"
    primary = "build"

    def prepare(self) -> None:
        rows = inputs.page_rows(self.seed, 0, self.sizes["pages"])
        self.pages_dir = os.path.join(self.work, "pages")
        self.input_bytes = inputs.write_pages(rows, self.pages_dir)
        canon, self.expected = gates.load_reference_sim(self.root).simulate_corpus(rows)
        degree: dict = {}
        for src, _pred, dst, _w in self.expected:
            degree[src] = degree.get(src, 0) + 1
            degree[dst] = degree.get(dst, 0) + 1
        # query popularity follows graph degree (head entities first)
        self.ranked_names = sorted(
            {name for name, _type in canon.values()},
            key=lambda name: (-degree.get(name, 0), name),
        )

    def setup(self) -> None:
        warm_up(self.spark, self.pages_dir)

    def round(self, tracer) -> list[Op]:
        from kiwi_spark.pipeline import run_pipeline

        self.rounds += 1
        wh = os.path.join(self.work, f"wh-{self.rounds}")
        op = self.run_primary(
            tracer, "build", self.sizes["pages"],
            lambda: run_pipeline(self.spark, self.spark.read.parquet(self.pages_dir), wh,
                                 build_search_index=True),
        )
        op.info["warehouse"] = wh
        reads = self.graph_tool_calls(tracer, wh)
        nodes, edges, mentions = collect_graph(self.spark, wh)
        triples = gates.graph_triples(nodes, edges)
        op.info["triple_pr"] = gates.triple_pr(triples, self.expected)
        op.ok = gates.triples_ok(triples, self.expected)
        for read in reads:
            read.ok = check_read(read, nodes, edges, mentions)
        return [op, *reads]

    def graph_tool_calls(self, tracer, wh: str) -> list[Op]:
        """Zipf-picked graph tool calls on the committed warehouse."""
        from kiwi_spark.plans import queries as Q
        from kiwi_spark.plans.search_index import search_entities_auto
        from kiwi_spark.sources.catalog import Catalog

        spark = self.spark
        cat = Catalog(wh)
        rng = random.Random(self.seed * 7_919 + self.rounds)
        name = zipf_pick(rng, self.ranked_names)
        reads = []

        def read(tool, fn, **info):
            with tracer.span(f"queries.{tool}") as span:
                out, wall = _timed(fn)
            reads.append(Op("read", wall, 1, span=span, info={"tool": tool, "out": out, **info}))
            return out

        found = read("lookup_entity",
                     lambda: Q.lookup_entity(cat.read(spark, "nodes"), name)
                     .select("entity_id").collect(), name=name)
        entity = min((r["entity_id"] for r in found), default=None)
        if entity is not None:
            read("get_entity_neighbours",
                 lambda: Q.get_entity_neighbours(cat.read(spark, "edges"),
                                                 cat.read(spark, "nodes"), entity)
                 .select("entity_id", "edge_id").collect(), entity_id=entity)
            read("get_entity_sources",
                 lambda: Q.get_entity_sources(cat.read(spark, "mentions"),
                                              cat.read(spark, "units"), [entity])
                 .select("mention_id").collect(), entity_id=entity)
        read("search_entities_auto",
             lambda: search_entities_auto(spark, cat, cat.read(spark, "nodes"), name)
             .select("entity_id", "score").collect(), query=name, warehouse=wh)
        return reads


def collect_graph(spark, wh: str):
    """The committed canonical graph as Python rows (outside any timer)."""
    from kiwi_spark.sources.catalog import Catalog

    cat = Catalog(wh)
    nodes = cat.read(spark, "nodes").select("entity_id", "name", "embedding").collect()
    edges = cat.read(spark, "edges").select(
        "edge_id", "src_id", "dst_id", "pred", "strength").collect()
    mentions = cat.read(spark, "mentions").select("mention_id", "entity_id").collect()
    return nodes, edges, mentions


def check_read(op: Op, nodes, edges, mentions) -> bool:
    tool, out = op.info["tool"], op.info["out"]
    if tool == "lookup_entity":
        return {r["entity_id"] for r in out} == gates.expected_lookup(nodes, op.info["name"])
    if tool == "get_entity_neighbours":
        got = [(r["entity_id"], r["edge_id"]) for r in out]
        return got == gates.expected_neighbours(nodes, edges, op.info["entity_id"])
    if tool == "get_entity_sources":
        got = [r["mention_id"] for r in out]
        return got == gates.expected_sources(mentions, op.info["entity_id"])
    if tool == "search_entities_auto":
        want = gates.expected_entity_search(nodes, op.info["query"])
        return [r["entity_id"] for r in out] == [eid for _s, eid in want] and all(
            abs(r["score"] - s) < 1e-9 for r, (s, _eid) in zip(out, want)
        )
    raise ValueError(f"no gate for tool {tool!r}")


# -- curate ------------------------------------------------------------------------


def curate_calls(docs):
    from kiwi_spark.operators import dedup, textstats

    return {
        "minhash": lambda: dedup.minhash_lsh_pairs(docs, n=3, threshold=0.7),
        "simhash": lambda: dedup.simhash_pairs(docs, max_hamming=3),
        "lang_id": lambda: textstats.lang_id(docs),
        "text_quality": lambda: textstats.text_quality(docs),
    }


class CurateWorkload(Workload):
    name = "curate"
    primary = "curate"

    def prepare(self) -> None:
        docs = inputs.document_rows(self.seed, self.sizes["docs"])
        self.docs_dir = os.path.join(self.work, "docs")
        self.input_bytes = inputs.write_documents(docs, self.docs_dir)
        # the LSH candidate count is a per-layer figure: traced runs only
        self.oracle = gates.curate_oracles(docs, candidates=self.traced)

    def setup(self) -> None:
        warm_up(self.spark, self.docs_dir)

    def round(self, tracer) -> list[Op]:
        self.rounds += 1
        calls = curate_calls(self.spark.read.parquet(self.docs_dir))
        results = {}

        def curation_pass():
            for call, build in calls.items():
                with tracer.span(f"curate.{call}") as span:
                    rows, wall = _timed(lambda: build().collect())
                results[call] = (rows, wall, span)

        op = self.run_primary(tracer, "curate", self.sizes["docs"], curation_pass)
        calls_ops = []
        for call, (rows, wall, span) in results.items():
            out = Op(f"curate.{call}", wall, len(rows), span=span,
                     info={"call": call, "out": [tuple(r) for r in rows],
                           "columns": rows[0].__fields__ if rows else []})
            out.ok = check_call(out, self.oracle)
            calls_ops.append(out)
        op.ok = all(c.ok for c in calls_ops)
        op.info["calls"] = calls_ops
        return [op]


def check_call(op: Op, oracle: dict) -> bool:
    """A curation call's rows hash-equal its DuckDB twin's."""
    return gates.rows_digest(op.info["out"], op.info["columns"]) == oracle[op.info["call"]]


WORKLOADS = {w.name: w for w in (BuildWorkload, CurateWorkload)}


def measure(workload: Workload, tracer, seconds: float) -> list[Op]:
    """Closed loop: rounds until ``seconds`` of wall time have passed
    (at least one). An operation that raises counts as failed."""
    ops: list[Op] = []
    started = time.perf_counter()
    while True:
        try:
            ops += workload.round(tracer)
        except Exception:  # noqa: BLE001 - a failed operation is a result
            traceback.print_exc()
            ops.append(Op(workload.primary, float("nan"), ok=False))
        if time.perf_counter() - started >= seconds:
            return ops


def counted(ops: list[Op]) -> list[Op]:
    """Every operation the failure count is over (curation calls
    individually)."""
    out = []
    for op in ops:
        out += op.info.get("calls", [op])
    return out


def _p50(walls) -> float:
    walls = [w for w in walls if w == w]
    return statistics.median(walls) if walls else float("nan")


def end_to_end(workload: Workload, ops: list[Op]) -> dict:
    """The BENCHMARK.json metrics beside set-up time and memory: the same
    name on every workload. CPU seconds rather than wall time, because wall
    time on a shared host drifts with its other tenants far more than the
    work done does."""
    primary = [o for o in ops if o.kind == workload.primary and o.wall == o.wall]
    if not primary:
        raise RuntimeError(f"no {workload.primary} operation completed")
    return {"op_cpu_s": (_p50(o.info["cpu_s"] for o in primary), "s")}


def named(workload: Workload, ops: list[Op]) -> dict:
    """Wall-time measurements under the workload-specific names of the
    benchmark's doc (``perfbench/README.md``)."""
    primary = [o for o in ops if o.kind == workload.primary and o.wall == o.wall]
    per_s = (sum(o.items for o in primary) / sum(o.wall for o in primary), "1/s")
    if workload.name == "curate":
        return {"curate_s_p50": (_p50(o.wall for o in primary), "s"),
                "curate_docs_per_s": per_s}
    reads = sorted(o.wall for o in ops if o.kind == "read")
    return {
        "build_s_p50": (_p50(o.wall for o in primary), "s"),
        "build_pages_per_s": per_s,
        "serve_query_s_p50": (_p50(reads), "s"),
        "serve_query_s_max": (reads[-1], "s"),
        "serve_qps": (len(reads) / sum(reads), "1/s"),
    }
