"""Self-test of the benchmark harness at tiny sizes.

    python3 perfbench/selftest.py

Runs one operation of every workload in one local Spark session, checks
that the gates pass on the engine's real outputs, then corrupts each kind of
output and checks that its gate fails: a tenth of the triples dropped, a
bogus entity in a lookup, a neighbour or a source missing, two search
results swapped or a score perturbed, a curation pair missing or a float
changed. The build runs traced, which checks that every per-layer metric
is derived. Exits 0 when every check holds.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3
TINY = {"build": {"pages": 24}, "curate": {"docs": 150}}


def corrupted(op, **info):
    bad = copy.copy(op)
    bad.info = {**op.info, **info}
    return bad


def check_build(spark, work, checks):
    from perfbench import gates, layers, tracing
    from perfbench.workloads import BuildWorkload, check_read, collect_graph

    workload = BuildWorkload(ROOT, work, SEED, traced=True)
    workload.prepare()
    workload.spark = spark
    workload.jvm_pid = spark.sparkContext._gateway.proc.pid
    workload.setup()
    tracer = tracing.Tracer(spark.sparkContext, "selftest")
    restore = tracing.install(tracer)
    try:
        ops = workload.round(tracer)
    finally:
        restore()
    tracer.finish(os.path.join(work, "selftest-trace.jsonl"))
    build, reads = ops[0], ops[1:]
    checks["build: every output passes its gate"] = all(o.ok for o in ops)
    checks["build: every graph tool ran"] = (
        sorted({r.info["tool"] for r in reads}) == sorted(layers.TOOLS))

    nodes, edges, mentions = collect_graph(spark, build.info["warehouse"])
    triples = sorted(gates.graph_triples(nodes, edges))
    checks["gate catches: a tenth of the triples dropped"] = not gates.triples_ok(
        set(triples[len(triples) // 10 + 1:]), workload.expected)
    by_tool = {r.info["tool"]: r for r in reads}

    def caught(tool, **info):
        return not check_read(corrupted(by_tool[tool], **info), nodes, edges, mentions)

    lookup = by_tool["lookup_entity"]
    checks["gate catches: a bogus entity in a lookup"] = caught(
        "lookup_entity", out=[*lookup.info["out"], {"entity_id": "bogus"}])
    checks["gate catches: a neighbour missing"] = caught(
        "get_entity_neighbours", out=by_tool["get_entity_neighbours"].info["out"][1:])
    checks["gate catches: a source missing"] = caught(
        "get_entity_sources", out=by_tool["get_entity_sources"].info["out"][1:])
    search = by_tool["search_entities_auto"].info["out"]
    rows = [{"entity_id": r["entity_id"], "score": r["score"]} for r in search]
    if len(rows) >= 2:
        checks["gate catches: two search results swapped"] = caught(
            "search_entities_auto", out=[rows[1], rows[0], *rows[2:]])
    checks["gate catches: a search score off by 1e-6"] = caught(
        "search_entities_auto", out=[{**rows[0], "score": rows[0]["score"] + 1e-6}, *rows[1:]])

    metrics = layers.compute(spark, workload, ops, tracer)
    checks["trace: every per-layer metric derived"] = set(metrics) == set(layers.PER_LAYER)
    checks["trace: build stages timed at their commits"] = all(
        metrics[name][0] > 0 for name in ("extract_text.commit_s", "build_graph.commit_s",
                                          "link.graph_commit_s", "search_index.build_s",
                                          "pipeline.jobs_per_stage"))


def check_curate(spark, work, checks):
    from perfbench import tracing
    from perfbench.workloads import CurateWorkload, check_call

    workload = CurateWorkload(ROOT, work, SEED, traced=False)
    workload.prepare()
    workload.spark = spark
    workload.jvm_pid = spark.sparkContext._gateway.proc.pid
    workload.setup()
    op = workload.round(tracing.NullTracer())[0]
    calls = {c.info["call"]: c for c in op.info["calls"]}
    checks["curate: every call matches its DuckDB twin"] = op.ok
    checks["curate: planted duplicates found"] = len(calls["minhash"].info["out"]) > 0
    checks["gate catches: a MinHash pair missing"] = not check_call(
        corrupted(calls["minhash"], out=calls["minhash"].info["out"][1:]), workload.oracle)
    quality = calls["text_quality"]
    changed = [tuple(v + 0.5 if isinstance(v, float) else v for v in quality.info["out"][0]),
               *quality.info["out"][1:]]
    checks["gate catches: a quality score changed"] = not check_call(
        corrupted(quality, out=changed), workload.oracle)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run, workloads

    for name, sizes in TINY.items():
        workloads.SIZES[name] = sizes
    work = os.path.join(ROOT, ".perfbench", f"selftest-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run.pin_environment(work)
    spark = run.start_session(work, workloads.CORES)
    checks: dict[str, bool] = {}
    try:
        for check in (check_build, check_curate):
            try:
                check(spark, work, checks)
            except Exception:  # noqa: BLE001 - report and fail the self-test
                traceback.print_exc()
                checks[f"{check.__name__} ran"] = False
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if checks and all(checks.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
