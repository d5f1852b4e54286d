"""SparkSession factory with the configuration this engine assumes.

Scale posture: AQE on (runtime re-planning + skew-join splitting), Arrow
batching for every pandas stage, shuffle partitions sized for local[32]
testing but overridable via env for cluster runs (spark-submit --conf wins).

JIT posture: the driver JVM stops at HotSpot's C1 tier
(``BATCH_DRIVER_JAVA_OPTIONS``). Every batch workflow here is one-shot:
the JVM plans a few dozen jobs over a few MB and exits, and C2 spends
more CPU optimising Spark's planner and codegen than the optimised code
ever saves. On a 4-vCPU host a cold 200-page indexed build at local[4]
spent 18-19 s of CPU in the C2 compiler threads, about 30% of its
total. The trade-off turns with session length: a long-lived session (a
test suite, a notebook, a serving driver) runs its hot code long enough
for C2 to pay back. Such a caller restores C2 either by overriding
``spark.driver.defaultJavaOptions`` in ``extra_conf`` or by appending
``-XX:TieredStopAtLevel=4`` to ``spark.driver.extraJavaOptions`` (the JVM
honours the last flag, and Spark places the extra options after the
default ones). The option reaches only the driver: on a cluster the
executors keep C2 for the data path. Under ``spark-submit`` the JVM
starts before ``get_spark`` runs, so pass it there as
``--conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

BATCH_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


def engine_builder(app_name: str) -> SparkSession.Builder:
    """A builder with the settings every session of this engine carries
    and no master. A script started by ``spark-submit`` calls
    ``.getOrCreate()`` on it, so ``--master`` wins; ``get_spark`` adds a
    master and local-mode sizing."""
    return (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # CPU-heavy Arrow/pandas stages need many more splits than the 128m
        # default gives: a 100 TB corpus splits fine either way, but local
        # correctness/bench corpora (~100s of MB) must still fan out to all
        # cores. 16m keeps task counts high enough at every scale.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        # let Catalyst broadcast mid-size id maps / dims (e.g. the
        # entity→canonical map) so fact-side tables never shuffle; on a
        # cluster this is per-executor memory, sized accordingly
        .config("spark.sql.autoBroadcastJoinThreshold", "128m")
        .config("spark.driver.defaultJavaOptions", BATCH_DRIVER_JAVA_OPTIONS)
    )


def get_spark(
    app_name: str = "kiwi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    builder = (
        engine_builder(app_name).master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
        # when the per-partition build side fits — skips both sort passes;
        # AQE's local-map threshold enables the same rewrite at runtime
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        # local mode hosts every task slot in the one JVM (32 slots here);
        # 8g gave ~250 MB/slot and visible GC-driven bench variance. Still
        # env-overridable for cluster drivers, which hold no task state.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the default 100-entry codegen class cache thrashes in multi-query
        # sessions (each query compiles ~10 units; a 12-query bench loop
        # evicts earlier queries' classes, so every re-execution re-compiles
        # AND re-pays JIT warmup — measured: the dedup band-join stage ran
        # 6.5 s instead of 4.5 s once its classes had been evicted). Static
        # conf; a few thousand compiled classes cost low tens of MB.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
