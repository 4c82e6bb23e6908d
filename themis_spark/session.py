"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4): AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow batches
sized for wide html rows, dynamic partition overwrite for idempotent
per-partition checkpoint commits.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    # InferFiltersFromGenerate would duplicate the ENTIRE fused
    # violations expression into a pre-explode Filter (evaluated
    # interpreted, no subexpression reuse) just to skip empty arrays —
    # measured ~2× the whole pass. Generate already skips empties.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # wide rows (html binary): keep Arrow batches modest so the Python
    # validators hold one batch + agg state, never the partition
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # idempotent per-partition overwrite = resume semantics without Iceberg
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # NOTE on scan granularity: do NOT shrink maxPartitionBytes below the
    # parquet row-group size — sub-row-group splits measured 3.5× SLOWER
    # (each split still decodes its whole row group). Task granularity is
    # controlled at WRITE time instead: the generators target ~32–64 MB
    # files so scans naturally produce ≥ cores input splits.
    "spark.sql.session.timeZone": "UTC",
    # PySpark 4 otherwise records the Python call site of every Column
    # and DataFrame call, about five py4j round trips each. compile_plan
    # builds hundreds to thousands of Columns per plan, and their call
    # sites would only name the compiler's own lines: on a cyclic-$ref
    # Variant schema this took half of each compile (1.1 s → 0.5 s on a
    # 4 vCPU VM, 12.9k → 3.8k round trips). Read once per Python process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # batch-throughput GC: ParallelGC beats G1's pause-target behavior for
    # this allocation-heavy scan (variant probes, UTF8 strings) — no
    # latency SLO here, only docs/sec
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "themis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(ENGINE_CONF)
    # rule of thumb: shuffle partitions ≈ 2× cores locally; on a real
    # cluster this scales with executor count (set explicitly per job)
    n = shuffle_partitions or max(2 * _parse_cores(master), 32)
    conf["spark.sql.shuffle.partitions"] = str(n)
    if master.startswith("local-cluster["):
        # multi-executor-JVM mode (the sandbox stand-in for a real
        # cluster): executors are separate processes that spawn their own
        # python workers — they need SPARK_HOME and our package on path
        # (prod equivalent: spark-submit --py-files themis_spark.zip)
        os.environ.setdefault("SPARK_HOME", _pyspark_home())
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        conf.setdefault("spark.executorEnv.PYTHONPATH", repo)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _pyspark_home() -> str:
    import pyspark

    return pyspark.__path__[0]


def _parse_cores(master: str) -> int:
    if master.startswith("local-cluster["):
        # local-cluster[execs, cores_per_exec, mem_mb]
        try:
            execs, cores, _ = master[len("local-cluster["):-1].split(",")
            return int(execs) * int(cores)
        except ValueError:
            return 8
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8
