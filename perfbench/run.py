"""The repository benchmark for kiwi_spark.

    python3 perfbench/run.py [--workload build|curate|all] [--seed N]
        [--seconds S] [--trace 0|1]

Run from the root of a checkout. Without ``--workload`` every workload runs,
each in its own process and Spark session. A single workload generates its
inputs and reference answers from the seed while its Spark session starts,
warms up, then measures in a closed loop for
``--seconds`` of wall time (at least one operation; the default is
``run_seconds`` of BENCHMARK.json), checks every output and prints, as its
last stdout line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
set-up and measurement run with spans around every layer call and the
metrics are the per-layer ones (spans are written to
``.perfbench/traces/``). The line before the result carries the same
end-to-end measurements under their workload-specific names. Everything a
run writes stays under ``.perfbench/`` in the checkout; its scratch
directory is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"
WORKLOAD_NAMES = ("build", "curate")
DEFAULT_SEED = 1  # seed 2 is held out for verifying claims


def default_seconds() -> float:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return float(json.load(fh)["run_seconds"])
    except (OSError, ValueError, KeyError):
        return 10.0


def parse_args(argv):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", default="all", choices=[*WORKLOAD_NAMES, "all"])
    parser.add_argument("--seed", type=int, default=DEFAULT_SEED)
    parser.add_argument("--seconds", type=float, default=None)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if args.seconds is None:
        args.seconds = default_seconds()
    return args


def pin_environment(work: str) -> None:
    """Everything a run spawns inherits this: the Python workers must be
    able to import kiwi_spark, and every temp file stays in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for key in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MAX_PARTITION_BYTES"):
        os.environ.pop(key, None)


def start_session(work: str, cores: int):
    from kiwi_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job's status for the per-span job counts
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every process it
    started (the Python worker daemon and its workers)."""
    from perfbench.tracing import descendant_pids

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spawned = descendant_pids(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - any failure to exit: force it
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    while spawned and time.time() < deadline:
        spawned = [p for p in spawned if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in spawned:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def code_digest() -> str:
    """Digest of the engine's Python sources."""
    digest = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, "kiwi_spark")):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as fh:
                    digest.update(name.encode() + fh.read())
    return digest.hexdigest()[:16]


def environment_info(spark, args, sizes) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": sizes,
        "code_sha256_16": code_digest(),
        "cpus": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
    }


def metrics_json(metrics: dict) -> dict:
    return {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()}


def run(args) -> dict:
    from perfbench import layers, tracing
    from perfbench.workloads import CORES, WORKLOADS, counted, end_to_end, measure, named

    started = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    workload = WORKLOADS[args.workload](ROOT, work, args.seed, bool(args.trace))
    # inputs and reference answers are made while the session starts
    prepared = []
    prepare = threading.Thread(target=lambda: prepared.append(workload.prepare()))
    prepare.start()
    spark = restore = None
    try:
        spark = start_session(work, CORES)
        phases = {"session_s": time.perf_counter() - started}
        prepare.join()
        phases["prepared_s"] = time.perf_counter() - started
        if not prepared:
            raise RuntimeError("preparing the inputs failed")
        workload.spark = spark
        workload.jvm_pid = spark.sparkContext._gateway.proc.pid
        print(json.dumps({"perfbench": environment_info(spark, args, workload.sizes)}),
              flush=True)
        tracer = tracing.NullTracer()
        if args.trace:
            tracer = tracing.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
            restore = tracing.install(tracer)

        with tracing.RssSampler(workload.jvm_pid) as rss:
            workload.setup()
            setup_s = time.perf_counter() - started
            ops = measure(workload, tracer, args.seconds)
            phases["measured_s"] = time.perf_counter() - started - setup_s

        checked = counted(ops)
        failed = sum(1 for op in checked if not op.ok)
        metrics = end_to_end(workload, ops)
        metrics["setup_s"] = (setup_s, "s")
        extra = named(workload, ops)
        extra.update(metrics, peak_rss_mb=(rss.peak_mb, "MB"),
                     failure_rate=(failed / len(checked), "ratio"))
        print(json.dumps({
            "named_metrics": metrics_json(extra),
            "ops": [(o.kind, o.info.get("tool") or o.info.get("call"), round(o.wall, 4), o.ok)
                    for o in checked],
            "triple_pr": [o.info["triple_pr"] for o in ops if "triple_pr" in o.info],
            "phases": phases,
        }), flush=True)
        if args.trace:
            out = os.path.join(ROOT, ".perfbench", "traces",
                               f"{args.workload}-seed{args.seed}-p{os.getpid()}.jsonl")
            tracer.finish(out)
            metrics = layers.compute(spark, workload, ops, tracer)
        return {
            "correct": failed == 0,
            "attempted": len(checked),
            "failed": failed,
            "metrics": metrics_json(metrics),
        }
    finally:
        prepare.join()
        if restore:
            restore()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> dict:
    """Every workload in its own process; the combined result carries the
    workload-specific metric names."""
    attempted = failed = 0
    metrics = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"workload {name} exited with {proc.returncode}")
        result = json.loads(lines[-1])
        print(json.dumps({"workload": name, **result}), flush=True)
        attempted += result["attempted"]
        failed += result["failed"]
        if args.trace:
            metrics.update({f"{name}.{k}": v for k, v in result["metrics"].items()})
            continue
        named_line = next(json.loads(line) for line in reversed(lines)
                          if line.startswith('{"named_metrics"'))["named_metrics"]
        for key, value in named_line.items():
            shared = key in ("op_cpu_s", "setup_s", "peak_rss_mb", "failure_rate")
            metrics[f"{name}.{key}" if shared else key] = value
    if not args.trace:
        metrics["failure_rate"] = {"value": failed / attempted, "unit": "ratio"}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kiwi_spark", "pipeline.py")):
        print("perfbench: kiwi_spark/ not found beside perfbench/; run it from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    result = run_all(args) if args.workload == "all" else run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
