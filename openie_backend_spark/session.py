"""SparkSession factory with the engine's standard configuration.

Single place where scale-relevant knobs live: AQE (runtime re-planning
+ skew-join splitting, replacing the reference's manual salting in
``TypeAttacher.scala:20,25``), Arrow for pandas UDFs (the NLP hot
path), and shuffle-partition sizing. On a real cluster the same
settings apply via ``spark-submit --conf``; ``local[K]`` is only the
sandbox harness.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# the directory that holds this package (a directory, or the zip shipped
# with --py-files): the Python workers import the daemon module from it
# whatever the driver's cwd is
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Start the Python worker pool once, at session creation.

    Worker creation goes through the daemon's single accept loop —
    measured 1.27 s of per-task "time to start Python workers" on the
    first Python stage of a cold session (event-log accumulators,
    scripts/cpu_attrib.py). A long-lived session (cluster executors,
    the local harness alike) wants that pool up BEFORE the first real
    query, exactly like executor JVMs are started ahead of work. One
    trivial mapInPandas over ``defaultParallelism`` single-row
    partitions forks a worker per task slot; ``spark.python.worker.reuse``
    (default on) then keeps them for every later Python stage.
    Best-effort: a failure must never block session creation, so it
    is logged with its traceback and the session is returned cold.
    """
    try:
        n = spark.sparkContext.defaultParallelism

        def _touch(batches):
            for b in batches:
                yield b

        (
            spark.range(n, numPartitions=1).repartition(n)
            .mapInPandas(_touch, "id long")
            .write.format("noop").mode("overwrite").save()
        )
        # also warm the shared JVM machinery every real query uses —
        # Janino/codegen compilation, Tungsten sort/hash-agg, window
        # and join operators, the AQE loop — on a few thousand
        # synthetic rows. This compiles the FRAMEWORK (shared classes
        # + the compiler itself), not any query's specific plan; the
        # first real query of a fresh process otherwise pays it.
        from pyspark.sql import Window, functions as F

        base = spark.range(8192).select(
            F.col("id"), (F.col("id") % 63).alias("k"),
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        dim = base.groupBy("k").agg(F.max("s").alias("m"),
                                    F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("k").orderBy("s")
        (
            base.join(dim, "k")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .groupBy("k").agg(F.sum("id").alias("t"))
            .write.format("noop").mode("overwrite").save()
        )
        # parquet reader/writer classes (footer, column readers,
        # vectorized batch path) — the other framework surface every
        # real query touches first
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="spark_prewarm_")
        try:
            dim.write.mode("overwrite").parquet(tmp + "/p")
            spark.read.parquet(tmp + "/p").write.format("noop") \
                .mode("overwrite").save()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception:
        _log.warning("Python worker prewarm failed; the session starts cold",
                     exc_info=True)


def get_spark(
    app_name: str = "openie-backend-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster AQE coalesces down from a
        # larger initial number, so this is a floor not a tuning knob
        shuffle_partitions = max(parallelism * 2, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # warm-fork daemon: heavy imports + NLP model parse happen once
        # in the daemon, forked workers inherit them (see warm_daemon.py;
        # measured 18.3→~4 s cold kg_spo). Scale-independent: the same
        # per-worker startup tax exists on any executor.
        .config("spark.python.daemon.module",
                "openie_backend_spark.warm_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # list up to this many paths on the driver instead of launching
        # a listing job: above streaming.ingest.N_BUCKETS (64), so that
        # reading the ingest groups table, whole or by touched buckets,
        # starts no job; the default 32 costs a 64-task job per read
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # experiment hook only (CDS / JIT / GC A-Bs); default empty
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_JVM_OPTS", ""))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if not getattr(spark, "_openie_prewarmed", False):
        _prewarm_python_workers(spark)
        spark._openie_prewarmed = True
    return spark
