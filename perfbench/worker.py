"""The benchmark's Spark process: one fresh process per run.

``python3 perfbench/worker.py <plan.json>`` starts a session with
``get_spark`` and builds the workload's KG through the layers' public
functions: ``warmup_builds`` untimed builds, then the measured one.
Then one closed-loop client (next operation only after the previous
one returns) lands an untimed ingest micro-batch that creates the
ingest table, and serves and ingests for ``seconds``: micro-batches
that merge into the table, each followed by a conjunctive fetch and a
point lookup, at least MIN_BATCHES batches. It writes ``result.json``
next to the plan; ``run.py`` checks the outputs and prints the metrics.

With ``trace`` set, every layer call of the measured build is a span
whose output is forced at the boundary (``localCheckpoint``) and whose
jobs carry the layer name as job group; the session writes an event
log. Tracing overhead is the traced build's wall against the untraced
runs' build wall on the same workload.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procfs  # noqa: E402

SHAPES = ["arg1", "rel", "arg2", "arg1+rel", "rel+arg2", "arg1+arg2"]
PAIRS_PER_BATCH = 1              # (fetch, lookup) pairs after each ingest batch
TRACED_PAIRS_PER_BATCH = 4       # more samples for the traced query latencies
MIN_BATCHES = 2                  # timed ingest batches per run at least
MAX_INSTANCES_PER_GROUP = 10     # fetch payload cap
SPO_BUCKETS = 16                 # the bucket count lookups assume


class Tracer:
    """Spans around layer calls. Untraced, ``step`` only calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.frames: list = []

    def step(self, layer: str, fn, force: bool = True):
        if not self.enabled:
            return fn()
        sc = self.spark.sparkContext
        group = f"{layer}#{len(self.spans)}"
        sc.setJobGroup(group, layer)
        jvm0, py0 = procfs.cpu_split()
        t0 = time.time()
        out = fn()
        if force:
            out = out.localCheckpoint(eager=True)
        t1 = time.time()
        jvm1, py1 = procfs.cpu_split()
        sc.setJobGroup("bench", "bench")
        self.spans.append({"layer": layer, "group": group, "start": t0,
                           "end": t1, "jvm_cpu_s": jvm1 - jvm0,
                           "py_cpu_s": py1 - py0})
        self.frames.append(out if force else None)
        return out

    def count_rows(self) -> None:
        """Rows out of every forced span, plus the layer-specific counts,
        taken after the traced build so they stay outside the spans."""
        from pyspark.sql import functions as F

        from openie_backend_spark.operators.group import MAX_INSTANCES_PER_GROUP

        self.spark.sparkContext.setJobGroup("trace.count", "trace.count")
        slots = lambda cond: F.sum(cond("arg1").cast("int") + cond("arg2").cast("int"))
        extras = {
            "scan": lambda df: {"en_rows_per_partition": df.filter(F.col("lang") == "en")
                                .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
                                .collect()},
            "group": lambda df: df.agg(
                F.max("size").alias("max_size"),
                F.sum((F.col("size") >= MAX_INSTANCES_PER_GROUP).cast("int"))
                .alias("capped_groups")).first().asDict(),
            "link": lambda df: df.agg(slots(
                lambda s: F.col(f"{s}_entity").isNotNull()).alias("linked_slots")
            ).first().asDict(),
            "typer": lambda df: df.agg(slots(
                lambda s: F.size(f"{s}_types") > 0).alias("typed_slots")
            ).first().asDict(),
        }
        for span, df in zip(self.spans, self.frames):
            if df is None:
                continue
            span["rows_out"] = df.count()
            if span["layer"] in extras:
                span.update(extras[span["layer"]](df))
        self.frames = []


def _cpu_seconds() -> float:
    """cgroup CPU-s; without a readable cgroup, this process plus the
    JVM and its Python workers."""
    cg = procfs.cgroup_cpu_seconds()
    if cg is not None:
        return cg
    t = os.times()
    return t.user + t.system + sum(procfs.cpu_split())


def _scan(spark, path: str):
    """Read the pages table; a single-file input is spread over the
    task slots as bench.py's documents reader does (one unsplittable
    file would otherwise run the NLP on one core)."""
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        df = df.repartition(target)
    return df


def build(spark, plan: dict, kg_dir: str, tracer: Tracer) -> dict:
    """One KG build: scan -> extract -> filters -> group [-> group filter
    -> link -> typer] -> materialize (bucketed spo/ops [+ edges/nodes])."""
    from openie_backend_spark.operators.extract import extract_pages
    from openie_backend_spark.operators.filters import (
        group_filter, instance_quality_filter,
    )
    from openie_backend_spark.operators.group import group_extractions
    from openie_backend_spark.operators.materialize import (
        edge_table, node_table, spo_table,
    )
    from openie_backend_spark.plans.pipeline import Pipeline

    c0 = _cpu_seconds()
    t0 = time.time()
    pages = tracer.step("scan", lambda: _scan(spark, plan["pages_path"]))
    ex = tracer.step("extract", lambda: extract_pages(
        pages, include_layers=plan["include_layers"],
        dedup_sentences=plan["dedup_sentences"]))
    kept = tracer.step("filters", lambda: instance_quality_filter(
        ex, min_conf=plan["min_conf"]))
    groups = tracer.step("group", lambda: group_extractions(kept))
    if plan["min_instances"]:
        groups = tracer.step("filters", lambda: group_filter(
            groups, min_instances=plan["min_instances"]))
    if plan["linked"]:
        from openie_backend_spark.operators.link import link_groups
        from openie_backend_spark.operators.typer import type_unlinkable

        dims = {f[:-8]: spark.read.parquet(os.path.join(plan["dims_dir"], f))
                for f in sorted(os.listdir(plan["dims_dir"]))}
        stop = dims["dim_entity_stoplist"]
        groups = tracer.step("link", lambda: link_groups(groups, dims))
        groups = tracer.step("typer", lambda: type_unlinkable(
            type_unlinkable(groups, "arg1", stop), "arg2", stop))

    def materialize():
        pipe = Pipeline(spark, kg_dir)
        spo = pipe.stage("spo", lambda: spo_table(groups),
                         buckets=(SPO_BUCKETS, "subject_id"))
        pipe.stage("ops", lambda: spo.drop("_bucket"),
                   buckets=(SPO_BUCKETS, "object_id"))
        if plan["linked"]:
            pipe.stage("edges", lambda: edge_table(spo))
            pipe.stage("nodes", lambda: node_table(spo))
        return pipe

    pipe = tracer.step("materialize", materialize, force=False)
    wall = time.time() - t0
    return {"wall_s": wall, "cpu_s": _cpu_seconds() - c0, "kg_dir": kg_dir,
            "stages": {r.name: r.rows for r in pipe.results}}


# ---- serving / ingest client

def _plan_leaves(df):
    """Leaf nodes of the executed physical plan (through AQE)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def _scan_metrics(df) -> dict[str, int]:
    out: dict[str, int] = {}
    for leaf in _plan_leaves(df):
        it = leaf.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in ("numFiles", "numOutputRows"):
                out[kv._1()] = out.get(kv._1(), 0) + int(kv._2().value())
    return out


def _files(d: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet") and "bucket=" in root:
                p = os.path.join(root, f)
                out[os.path.relpath(p, d)] = os.path.getsize(p)
    return out


class Client:
    def __init__(self, spark, plan: dict, work: str, kg_dir: str, trace: bool):
        from pyspark.sql.types import StringType, StructField, StructType

        self.spark = spark
        self.plan = plan
        self.trace = trace
        self.ingest = os.path.join(work, "ingest")
        self.landing = os.path.join(self.ingest, "landing")
        self.groups_dir = os.path.join(self.ingest, "groups")
        self.ckpt = os.path.join(self.ingest, "ckpt")
        os.makedirs(self.landing)
        self.spo_dir = os.path.join(kg_dir, "spo")
        self.ops_dir = os.path.join(kg_dir, "ops")
        self.schema = StructType([StructField(c, StringType())
                                  for c in ("url", "text", "lang")])
        self.version = -1
        self.table = None
        self.rng = random.Random(plan["seed"])
        self.records: list[dict] = []
        self.layer = {"lookup_files": [], "rows_scanned": 0, "rows_returned": 0,
                      "touched_frac": [], "mb_rewritten": [],
                      "jvm_cpu_s": [], "py_cpu_s": []}

    def ingest_batch(self) -> dict:
        from openie_backend_spark.streaming.ingest import N_BUCKETS, run_incremental

        b = self.version + 1
        name = f"batch_{b:03d}.parquet"
        before = _files(self.groups_dir) if self.trace else None
        cpu0 = procfs.cpu_split() if self.trace else None
        t0 = time.perf_counter()
        os.rename(os.path.join(self.plan["batch_dir"], name),
                  os.path.join(self.landing, name))
        run_incremental(self.spark, self.landing, self.groups_dir, self.ckpt,
                        self.schema, dedup_pages=True)
        self.version = b
        # a reader sees the batch once its table handle is refreshed
        self.table = self.spark.read.parquet(self.groups_dir)
        dt = time.perf_counter() - t0
        if self.trace and b > 0:
            cpu1 = procfs.cpu_split()
            after = _files(self.groups_dir)
            changed = {os.path.dirname(p) for p in set(after) ^ set(before)}
            self.layer["touched_frac"].append(len(changed) / N_BUCKETS)
            self.layer["mb_rewritten"].append(
                sum(s for p, s in after.items() if p not in before) / 2**20)
            self.layer["jvm_cpu_s"].append(cpu1[0] - cpu0[0])
            self.layer["py_cpu_s"].append(cpu1[1] - cpu0[1])
        return {"op": "ingest", "batch": b, "s": dt}

    def fetch(self) -> dict:
        from openie_backend_spark.operators.query import QuerySpec, fetch_groups

        shape = SHAPES[sum(r["op"] == "fetch" for r in self.records) % len(SHAPES)]
        a1, r, a2 = self.rng.choice(self.plan["vocab"])
        fields = {k: v for k, v in (("arg1_norm", a1), ("rel_norm", r),
                                    ("arg2_norm", a2))
                  if k.split("_")[0] in shape.split("+")}
        spec = QuerySpec(arg1=fields.get("arg1_norm"), rel=fields.get("rel_norm"),
                         arg2=fields.get("arg2_norm"), stem=False)
        t0 = time.perf_counter()
        df = fetch_groups(self.table, spec,
                          max_instances_per_group=MAX_INSTANCES_PER_GROUP)
        rows = df.collect()
        dt = time.perf_counter() - t0
        if self.trace:
            m = _scan_metrics(df)
            self.layer["rows_scanned"] += m.get("numOutputRows", 0)
            self.layer["rows_returned"] += len(rows)
        return {"op": "fetch", "s": dt, "version": self.version, "fields": fields,
                "rows": [[x["arg1_norm"], x["rel_norm"], x["arg2_norm"],
                          int(x["size"]), len(x["instances"])] for x in rows]}

    def lookup(self, ids: dict[str, list[str]]) -> dict:
        from openie_backend_spark.operators.materialize import (
            lookup_object, lookup_subject,
        )

        side = "subject" if sum(r["op"] == "lookup" for r in self.records) % 2 == 0 \
            else "object"
        key = self.rng.choice(ids[side])
        t0 = time.perf_counter()
        if side == "subject":
            df = lookup_subject(self.spark, self.spo_dir, key, n_buckets=SPO_BUCKETS)
        else:
            df = lookup_object(self.spark, self.ops_dir, key, n_buckets=SPO_BUCKETS)
        rows = df.collect()
        dt = time.perf_counter() - t0
        if self.trace:
            m = _scan_metrics(df)
            self.layer["lookup_files"].append(m.get("numFiles", 0))
            self.layer["rows_scanned"] += m.get("numOutputRows", 0)
            self.layer["rows_returned"] += len(rows)
        return {"op": "lookup", "s": dt, "side": side, "key": key,
                "rows": sorted([x["subject_id"], x["predicate"], x["object_id"],
                                int(x["group_size"])] for x in rows)}

    def lookup_ids(self) -> dict[str, list[str]]:
        """Distinct subject and object ids of the KG, read without Spark."""
        import pyarrow.parquet as pq

        def ids(d: str, col: str) -> list[str]:
            return sorted({x for root, _, files in os.walk(d) for f in files
                           if f.endswith(".parquet")
                           for x in pq.read_table(os.path.join(root, f), columns=[col])
                           .column(0).to_pylist()})

        return {"subject": ids(self.spo_dir, "subject_id"),
                "object": ids(self.ops_dir, "object_id")}


def _worker_tagger(spark) -> list[str]:
    """Tagger label as loaded inside the Python workers."""
    def probe(batches):
        import pandas as pd

        from openie_backend_spark.nlp import perceptron

        label = "perceptron" if perceptron.get_tagger() is not None else "rule"
        for _ in batches:
            pass
        yield pd.DataFrame({"tagger": [label]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(n, numPartitions=n).mapInPandas(probe, "tagger string").collect()
    return sorted({r["tagger"] for r in rows})


def main(plan_path: str) -> None:
    with open(plan_path) as fh:
        plan = json.load(fh)
    work = os.path.dirname(plan_path)
    trace = plan["trace"]
    tmp = os.path.join(work, "tmp")
    # keep every file the session writes inside the work directory; the
    # JVM's hsperfdata file would go to /tmp whatever java.io.tmpdir says
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {"spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"{os.environ.get('SPARK_GRAFT_JVM_OPTS', '')} {jvm_opts}".strip(),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "events"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    from openie_backend_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{plan['workload']}",
                      parallelism=plan["parallelism"], extra_conf=conf)
    t_ready = time.time()
    res = {"t_ready": t_ready, "get_spark_s": t_ready - t0}
    if trace:
        res["session_jvm_cpu_s"], res["session_py_cpu_s"] = procfs.cpu_split()
    spark.sparkContext.setLogLevel("ERROR")

    from openie_backend_spark.nlp import perceptron

    res["tagger"] = "perceptron" if perceptron.get_tagger() is not None else "rule"
    res["worker_tagger"] = _worker_tagger(spark)
    if res["tagger"] != "perceptron" or res["worker_tagger"] != ["perceptron"]:
        raise SystemExit(f"tagger fell back: here {res['tagger']}, "
                         f"workers {res['worker_tagger']}")

    kg_root = os.path.join(work, "kg")
    # ``warmup_builds`` untimed builds, then the measured one (traced
    # with ``trace``), whose KG the lookups read
    builds: list[dict] = []
    for i in range(plan["warmup_builds"] + 1):
        tracer = Tracer(spark, trace and i == plan["warmup_builds"])
        builds.append(build(spark, plan, os.path.join(kg_root, f"b{i}"), tracer))
    if trace:
        tracer.count_rows()
        res["spans"] = tracer.spans
        res["kg_files_written"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(builds[-1]["kg_dir"]) for f in fs)
    client = Client(spark, plan, work, builds[-1]["kg_dir"], trace)
    client.ingest_batch()          # batch 0 creates the ingest table, untimed
    ids = client.lookup_ids()

    # serve and ingest for ``seconds``: ingest micro-batches that merge
    # into the table, each followed by fetch/lookup pairs, until the
    # next batch would end past the window (give or take half a batch),
    # and at least MIN_BATCHES batches
    t_window = time.perf_counter()
    t_end = t_window + plan["seconds"]
    try:
        while True:
            t0 = time.perf_counter()
            client.records.append(client.ingest_batch())
            for _ in range(TRACED_PAIRS_PER_BATCH if trace else PAIRS_PER_BATCH):
                client.records.append(client.fetch())
                client.records.append(client.lookup(ids))
            now = time.perf_counter()
            if client.version + 1 >= plan["n_batches"] or (
                    client.version >= MIN_BATCHES and now + 0.5 * (now - t0) > t_end):
                break
    except Exception:              # counted as a failed operation
        client.records.append({"op": "error", "error": traceback.format_exc()[-2000:]})
    res["window_s"] = time.perf_counter() - t_window
    res["builds"] = builds
    res["records"] = client.records
    res["version"] = client.version
    res["groups_dir"] = client.groups_dir
    res["query_layer"] = client.layer
    if trace:
        spark.stop()               # flushes and closes the event log
    res["t_done"] = time.time()
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main(sys.argv[1])
    # everything is on disk: skip the interpreter's and the gateway's
    # orderly shutdown; run.py kills and reaps what is left of the process group
    os._exit(0)
