"""SparkSession factory with the engine's standard configuration.

Single place where scale-relevant knobs live: AQE (runtime re-planning
+ skew-join splitting, replacing the reference's manual salting in
``TypeAttacher.scala:20,25``), Arrow for pandas UDFs (the NLP hot
path), and shuffle-partition sizing. On a real cluster the same
settings apply via ``spark-submit --conf``; ``local[K]`` is only the
sandbox harness.

``get_spark`` also prewarms a new session before it returns, so that no
build pays one-off process costs (``_prewarm_session``). Four steps run
concurrently, each on its own driver thread: the Python worker pool,
one framework query (codegen, sort, aggregate, window, join, AQE), a
parquet round trip, and the ICU case-map init. They run concurrently
because each mostly waits on its own thing (the Python daemon's
imports, JVM class loading and code generation, one class init): on a
4-core box the four took 12.9-14.2 s one after another and 8.3 s
together. ICU is warmed because the first ``lower``/``upper`` in a JVM
title-cases every code point under a class-init lock that stalls the
other task threads of that stage; ``spark.sql.icu.caseMappings.enabled``
stays on, because turning it off changes how non-ASCII text is
case-mapped. In local mode the driver and the tasks share one JVM; on a
cluster the JVM steps warm the executors that run their tasks, and the
ICU step only the driver.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# the directory that holds this package (a directory, or the zip shipped
# with --py-files): the Python workers import the daemon module from it
# whatever the driver's cwd is
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warm_python_pool(spark: SparkSession) -> None:
    """Start the Python worker daemon, then fork one worker per free
    task slot.

    Worker creation goes through the daemon's single accept loop —
    measured 1.27 s of per-task "time to start Python workers" on the
    first Python stage of a cold session (event-log accumulators,
    scripts/cpu_attrib.py). The first job, one single-row partition,
    starts the daemon (its preload takes ~3 s) on ONE task slot, so the
    other prewarm steps run their tasks on the rest meanwhile; an
    n-partition first job would hold every slot while its tasks wait
    for the daemon. The second, ``defaultParallelism`` single-row
    partitions, then forks a worker per slot that is free (a busy slot
    gets its worker, cheaply, at first use);
    ``spark.python.worker.reuse`` (default on) keeps them for every
    later Python stage.
    """
    n = spark.sparkContext.defaultParallelism

    def _touch(batches):
        for b in batches:
            yield b

    for parts in (1, n):
        (
            spark.range(parts, numPartitions=parts)
            .mapInPandas(_touch, "id long")
            .write.format("noop").mode("overwrite").save()
        )


def _synthetic(spark: SparkSession):
    """A few thousand synthetic rows and a grouped aggregate of them."""
    base = spark.range(8192).select(
        F.col("id"), (F.col("id") % 63).alias("k"),
        F.md5(F.col("id").cast("string")).alias("s"),
    )
    dim = base.groupBy("k").agg(F.max("s").alias("m"),
                                F.count(F.lit(1)).alias("c"))
    return base, dim


def _warm_jvm(spark: SparkSession) -> None:
    """The shared JVM machinery every real query uses: Janino/codegen,
    Tungsten sort and hash aggregate, window and join operators, the
    AQE loop. This compiles the FRAMEWORK (shared classes and the
    compiler itself), not any query's specific plan."""
    base, dim = _synthetic(spark)
    w = Window.partitionBy("k").orderBy("s")
    (
        base.join(dim, "k")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("k").agg(F.sum("id").alias("t"))
        .write.format("noop").mode("overwrite").save()
    )


def _warm_parquet(spark: SparkSession) -> None:
    """Parquet writer and reader classes (footer, column readers, the
    vectorized batch path): the other framework surface every real
    query touches first."""
    _, dim = _synthetic(spark)
    tmp = tempfile.mkdtemp(prefix="spark_prewarm_")
    try:
        dim.write.mode("overwrite").parquet(tmp + "/p")
        spark.read.parquet(tmp + "/p").write.format("noop") \
            .mode("overwrite").save()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _warm_icu(spark: SparkSession) -> None:
    """Run the JVM-wide ICU case-map init on a driver thread.

    Spark case-maps through ICU (``spark.sql.icu.caseMappings.enabled``,
    on by default; it stays on, because turning it off changes non-ASCII
    case mapping). The first ``lower``/``upper`` in a JVM runs
    ``CollationAwareUTF8String.<clinit>``, which title-cases all
    1,114,112 code points: 1.4-1.55 s on one thread, while every other
    task thread of that stage waits on the class-init lock (first
    lowercasing job of a cold build: 10.4 task-s cold, 2.0 warm).
    Constant folding evaluates ``lower`` of a literal in the optimizer,
    so the init runs on this driver thread while the query is planned;
    the one-row job that follows finds the class ready. In local mode
    driver and tasks share this JVM, so every later task does too.
    """
    spark.range(1).select(F.lower(F.lit("A"))).collect()


# (name, step); the threads start together, so the order only sets the
# order of the log line
_PREWARM_STEPS = (
    ("pool", _warm_python_pool),
    ("jvm", _warm_jvm),
    ("parquet", _warm_parquet),
    ("icu", _warm_icu),
)


def _prewarm_session(spark: SparkSession) -> dict[str, tuple[float, bool]]:
    """Run every prewarm step at once and wait for all of them.

    A long-lived session (cluster executors, the local harness alike)
    wants its one-off costs paid BEFORE the first real query, the way
    executor JVMs are started ahead of work; the first query of a fresh
    process otherwise pays them. Each step runs on its own driver
    thread (why: module docstring), its jobs tagged with the job group
    ``prewarm.<name>`` on that thread only, so the caller's thread keeps
    its local properties.

    Best-effort: a failed step is logged by name with its traceback and
    the others still run; the session is returned without that warm-up.
    Returns ``{name: (wall seconds, ok)}`` and logs it as one INFO line.
    """
    sc = spark.sparkContext

    def _run(name, step):
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"prewarm.{name}", f"session prewarm: {name}")
            step(spark)
            ok = True
        except Exception:
            _log.warning("prewarm failed in step %r; the session starts "
                         "without it", name, exc_info=True)
            ok = False
        return time.perf_counter() - t0, ok

    t0 = time.perf_counter()
    with ThreadPoolExecutor(len(_PREWARM_STEPS),
                            thread_name_prefix="prewarm") as pool:
        futures = {name: pool.submit(_run, name, step)
                   for name, step in _PREWARM_STEPS}
        report = {name: f.result() for name, f in futures.items()}
    _log.info("session prewarm %.2f s: %s", time.perf_counter() - t0,
              ", ".join(f"{name} {s:.2f} s {'ok' if ok else 'failed'}"
                        for name, (s, ok) in report.items()))
    return report


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
        _prewarm_session(spark)
        spark._openie_prewarmed = True
    return spark
