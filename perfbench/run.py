"""KG-construction benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload build_crawl --seed 1 --seconds 15 --trace 0

Makes the workload's inputs and reference from the seed, starts the
Spark worker (``worker.py``) as a fresh process at local[nproc],
watches its memory, checks its outputs against the reference, and
prints as its last line
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is the environment stamp. See
BENCHMARK.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
RUN_DEADLINE_S = 170          # the whole run, set-up and checks included
ARROW_BATCH_ROWS = 10000      # spark.sql.execution.arrow.maxRecordsPerBatch
LAYERS = ["scan", "extract", "filters", "group", "link", "typer", "materialize"]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _q(values: list[float], p: int) -> float:
    """p-th percentile (inclusive method); the median for p=50."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class MemorySampler(threading.Thread):
    """Peak memory of a process tree, sampled every 0.5 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0.0
        self.stop = threading.Event()

    def run(self) -> None:
        from perfbench import procfs

        while not self.stop.is_set():
            self.peak = max(self.peak, procfs.tree_pss_mb(self.pid))
            self.stop.wait(0.5)


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, the Python workers) are reparented
    to this process instead of init, so it can reap them itself."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        _fail(f"prctl(PR_SET_CHILD_SUBREAPER): errno {ctypes.get_errno()}")


def _reap_all() -> None:
    """Kill every descendant left (the JVM, the PySpark daemon, which
    moves to a process group of its own, and its workers; all output is
    on disk by now and the work directory is discarded) and wait until
    each has ended."""
    from perfbench import procfs

    deadline = time.time() + 30
    while time.time() < deadline:
        for pid in procfs.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        time.sleep(0.02)
    _fail("descendant processes survived SIGKILL")


def run_worker(plan_path: str, work: str, env: dict, timeout: float) -> tuple[dict, float, float]:
    """(worker result, spawn time, peak tree memory in MB); the result
    also carries the share of CPU time the hypervisor stole meanwhile."""
    from perfbench import procfs

    log_path = os.path.join(work, "worker.log")
    _become_subreaper()
    steal0 = procfs.steal_jiffies()
    with open(log_path, "w") as log:
        t_spawn = time.time()
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), plan_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        sampler = MemorySampler(child.pid)
        sampler.start()
        try:
            rc = child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop.set()
            sampler.join()
            _reap_all()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        _fail(f"worker {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    steal1 = procfs.steal_jiffies()
    res["steal_frac"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    return res, t_spawn, sampler.peak


# ---- correctness

def _read_dir(d: str, cols: list[str], under: str) -> "pd.DataFrame":
    import pandas as pd
    import pyarrow.parquet as pq

    parts = [pq.read_table(os.path.join(r, f), columns=cols).to_pandas()
             for r, _, fs in os.walk(d) if under in r
             for f in fs if f.endswith(".parquet")]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=cols)


def verify(res: dict, reference, plan: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, messages): the build, every fetch, lookup and
    ingest batch, each checked against the reference."""
    from perfbench import reference as ref

    errors: list[str] = []
    spo_cols = ["subject_id", "subject", "predicate", "object_id", "object", "group_size"]
    tri = ["subject", "predicate", "object", "group_size"]
    want_digest = ref.triples_digest(reference.triples[tri])
    attempted = failed = 0
    for i, b in enumerate(res["builds"]):
        build_errors = []
        spo = _read_dir(os.path.join(b["kg_dir"], "spo"), spo_cols, "_bucket=")
        ops = _read_dir(os.path.join(b["kg_dir"], "ops"), spo_cols, "_bucket=")
        if ref.triples_digest(spo[tri]) != want_digest:
            build_errors.append(f"build {i}: {len(spo)} spo rows vs reference "
                                f"{len(reference.triples)} or content differs")
        if ref.triples_digest(ops[spo_cols]) != ref.triples_digest(spo[spo_cols]):
            build_errors.append(f"build {i}: ops table differs from spo")
        if not plan["linked"] and not (
                spo["subject_id"].equals(spo["subject"].map(ref.node_id))
                and spo["object_id"].equals(spo["object"].map(ref.node_id))):
            build_errors.append(f"build {i}: unlinked node ids differ from sha256 of the norm")
        stages = b["stages"]
        if plan["linked"]:
            n_nodes = len(set(spo["subject_id"]) | set(spo["object_id"]))
            if (stages.get("edges"), stages.get("nodes")) != (spo["subject_id"].nunique(),
                                                              n_nodes):
                build_errors.append(f"build {i}: edges/nodes rows {stages.get('edges')}/"
                                    f"{stages.get('nodes')} do not match spo")
        attempted += 1
        failed += int(bool(build_errors))
        errors += build_errors
    lookup_spo = spo               # the lookups read the measured build's KG

    for r in res["records"]:
        attempted += 1
        bad = None
        if r["op"] == "error":
            bad = f"operation raised: {r['error']}"
        elif r["op"] == "fetch":
            want = ref.fetch(reference.tables[r["version"]], r["fields"], 750)
            got = [x[:4] for x in r["rows"]]
            if got != want or any(x[4] != min(x[3], 10) for x in r["rows"]):
                bad = f"fetch {r['fields']} v{r['version']}: {len(got)} rows, want {len(want)}"
        elif r["op"] == "lookup":
            sel = lookup_spo[lookup_spo[f"{r['side']}_id"] == r["key"]]
            want = sorted([a, p, b, int(s)] for a, p, b, s in
                          sel[["subject_id", "predicate", "object_id", "group_size"]]
                          .itertuples(index=False))
            if r["rows"] != want:
                bad = f"lookup {r['side']} {r['key']}: {len(r['rows'])} rows, want {len(want)}"
        if bad:
            failed += 1
            errors.append(bad)

    # the ingest table after the last batch equals the one-shot grouping
    # of every page the batches landed (re-crawls dropped by the Bloom filter)
    final = _read_dir(res["groups_dir"], ref.KEY + ["size"], "bucket=")
    want = reference.tables[res["version"]]
    attempted += 1
    if ref.triples_digest(final[ref.KEY + ["size"]]) != ref.triples_digest(want[ref.KEY + ["size"]]):
        failed += 1
        errors.append(f"ingest table: {len(final)} groups, want {len(want)}")
    return attempted, failed, errors


# ---- metrics

def _latencies(res: dict, op: str) -> list[float]:
    return [r["s"] * 1000 for r in res["records"] if r["op"] == op]


def end_to_end(res: dict, plan: dict, reference, t_spawn: float) -> dict:
    """The measured build, and the fastest ingest batch: a co-tenant's
    load only ever slows a batch down, so the fastest is the one it
    disturbed least."""
    b = res["builds"][-1]
    fastest = min((r for r in res["records"] if r["op"] == "ingest"), key=lambda r: r["s"])
    return {
        "setup_s": (res["t_ready"] - t_spawn, "s"),
        "pages_per_s": (plan["n_pages"] / b["wall_s"], "1/s"),
        "cpu_s_per_kpage": (b["cpu_s"] / (plan["n_pages"] / 1000), "s"),
        "ingest_batch_min_s": (fastest["s"], "s"),
        "ingest_pages_per_s": (reference.batch_pages[fastest["batch"]] / fastest["s"],
                               "1/s"),
    }


def nlp_floor(sentences: list[str], seed: int, budget_s: float = 1.5) -> dict:
    """Spark-free NLP floor on one core: chunk + ReVerb extract over the
    workload's own sentences, CPU time per sentence and per token."""
    from openie_backend_spark.nlp import chunker, reverb

    chunker.chunk_sentence("Warm the models up .")
    sample = list(sentences)
    random.Random(seed).shuffle(sample)
    n = toks = 0
    cpu = 0.0
    for s in sample:
        c0 = time.process_time()
        t, tags, chks = chunker.chunk_sentence(s)
        reverb.extract(t, tags, chks)
        cpu += time.process_time() - c0
        n += 1
        toks += len(t)
        if cpu >= budget_s and n >= 50:
            break
    return {"sentences_per_core_s": n / cpu, "tokens_per_core_s": toks / cpu}


def per_layer(res: dict, plan: dict, reference, floor: dict, work: str,
              peak: float) -> dict:
    from perfbench import eventlog

    tasks = eventlog.task_metrics(os.path.join(work, "events"))
    spans = res["spans"]
    out: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (res["get_spark_s"], "s"),
        "session.jvm_cpu_s": (res["session_jvm_cpu_s"], "s"),
        "session.py_cpu_s": (res["session_py_cpu_s"], "s"),
        "session.peak_mem_mb": (peak, "MB"),
    }
    rows: dict[str, int] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        stages = {sid: ts for s in mine for sid, ts in tasks.get(s["group"], {}).items()}
        tot = eventlog.layer_totals(stages)
        rows[layer] = mine[-1].get("rows_out", 0) if mine else 0
        out.update({
            f"{layer}.wall_s": (sum(s["end"] - s["start"] for s in mine), "s"),
            f"{layer}.jvm_cpu_s": (sum(s["jvm_cpu_s"] for s in mine), "s"),
            f"{layer}.py_cpu_s": (sum(s["py_cpu_s"] for s in mine), "s"),
            f"{layer}.rows_out": (rows[layer], "count"),
            f"{layer}.shuffle_write_mb": (tot["shuffle_write_mb"], "MB"),
            f"{layer}.spill_mb": (tot["spill_mb"], "MB"),
            f"{layer}.gc_s": (tot["gc_s"], "s"),
            f"{layer}.task_skew": (tot["task_skew"], "ratio"),
        })
        if layer == "scan":
            # the event log's input bytes miss the parquet reader's reads
            out["scan.mb_read"] = (os.path.getsize(plan["pages_path"]) / 2**20, "MB")
        if layer == "materialize":
            out["materialize.mb_written"] = (tot["mb_written"], "MB")
    traced = res["builds"][-1]
    rows["materialize"] = traced["stages"]["spo"]
    out["materialize.rows_out"] = (rows["materialize"], "count")
    out["materialize.files_written"] = (res["kg_files_written"], "count")

    by_layer = {s["layer"]: s for s in spans}
    st = reference.stats
    processed = st["distinct_sentences"] if plan["dedup_sentences"] else st["sentences"]
    if plan["dedup_sentences"]:
        p = plan["parallelism"]
        parts = [processed // p + (i < processed % p) for i in range(p)]
    else:
        parts = by_layer["scan"]["en_rows_per_partition"]
    py_extract = out["extract.py_cpu_s"][0]
    out.update({
        "extract.sentences": (st["sentences"], "count"),
        "extract.extractions_per_sentence": (rows["extract"] / st["sentences"], "ratio"),
        "extract.arrow_batches": (sum(math.ceil(n / ARROW_BATCH_ROWS) for n in parts), "count"),
        "extract.floor_share": (processed / floor["sentences_per_core_s"] / py_extract
                                if py_extract else 0.0, "ratio"),
        "nlp.sentences_per_core_s": (floor["sentences_per_core_s"], "1/s"),
        "nlp.tokens_per_core_s": (floor["tokens_per_core_s"], "1/s"),
    })
    keep, prev = 1.0, rows["extract"]
    for s in spans:
        if s["layer"] == "filters":
            keep *= s["rows_out"] / prev if prev else 0.0
        prev = s.get("rows_out", prev)
    g, lk, ty = by_layer.get("group", {}), by_layer.get("link"), by_layer.get("typer")
    out.update({
        "filters.keep_frac": (keep, "ratio"),
        "group.groups": (g.get("rows_out", 0), "count"),
        "group.max_size": (g.get("max_size") or 0, "count"),
        "group.capped_groups": (g.get("capped_groups") or 0, "count"),
        "link.linked_frac": (lk["linked_slots"] / (2 * lk["rows_out"])
                             if lk and lk["rows_out"] else 0.0, "ratio"),
        "typer.typed_frac": (ty["typed_slots"] / (2 * ty["rows_out"])
                             if ty and ty["rows_out"] else 0.0, "ratio"),
    })
    q = res["query_layer"]
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0
    out.update({
        "query.fetch_p50_ms": (_q(_latencies(res, "fetch"), 50), "ms"),
        "query.fetch_p90_ms": (_q(_latencies(res, "fetch"), 90), "ms"),
        "query.lookup_p50_ms": (_q(_latencies(res, "lookup"), 50), "ms"),
        "query.lookup_p90_ms": (_q(_latencies(res, "lookup"), 90), "ms"),
        "query.files_read_per_lookup": (mean(q["lookup_files"]), "count"),
        "query.rows_scanned_per_result": (q["rows_scanned"] / max(q["rows_returned"], 1),
                                          "ratio"),
        "streaming.touched_bucket_frac": (mean(q["touched_frac"]), "ratio"),
        "streaming.mb_rewritten_per_batch": (mean(q["mb_rewritten"]), "MB"),
        "streaming.jvm_cpu_s": (mean(q["jvm_cpu_s"]), "s"),
        "streaming.py_cpu_s": (mean(q["py_cpu_s"]), "s"),
    })
    out.update({
        "trace.traced_build_s": (traced["wall_s"], "s"),
        "trace.layer_wall_frac": (sum(s["end"] - s["start"] for s in spans)
                                  / traced["wall_s"], "ratio"),
    })
    return out


def env_stamp(args, nproc: int, res: dict) -> dict:
    import pyarrow
    import pyspark

    commit = None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        pass
    from perfbench.prepare import _source_key

    return {"env": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "parallelism": nproc,
        "get_spark_default_parallelism": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "tagger": res["tagger"], "worker_tagger": res["worker_tagger"],
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "git_commit": commit,
        "cpu_steal_frac": round(res["steal_frac"], 4),
        "nlp_source_key": _source_key(),
    }}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still kills and reaps its worker (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "openie_backend_spark", "session.py")):
        _fail(f"the program (openie_backend_spark/) is not in {ROOT}")
    sys.path.insert(0, ROOT)
    from perfbench import prepare

    if args.workload not in prepare.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(prepare.WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        plan, reference = prepare.prepare(
            args.workload, args.seed, work, os.path.join(ROOT, ".perfbench_cache"))
        floor = nlp_floor(reference.sentences, args.seed) if args.trace else None
        plan.update(seconds=args.seconds, trace=bool(args.trace), parallelism=nproc)
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        env = dict(os.environ,
                   PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"),
                   SPARK_GRAFT_CPUS=str(nproc))
        res, t_spawn, peak = run_worker(
            plan_path, work, env, RUN_DEADLINE_S - (time.time() - t_start))
        t_done = time.time()
        attempted, failed, errors = verify(res, reference, plan)
        walls = " ".join(f"{b['wall_s']:.1f}" for b in res["builds"])
        batches = " ".join(f"{r['s']:.1f}" for r in res["records"] if r["op"] == "ingest")
        print(f"perfbench: prepare {t_spawn - t_start:.1f} s, worker "
              f"{t_done - t_spawn:.1f} s (window {res['window_s']:.1f} s, "
              f"exit {t_done - res['t_done']:.1f} s), verify {time.time() - t_done:.1f} s; "
              f"builds {walls} s ({plan['warmup_builds']} warm-up), ingest batches "
              f"{batches} s; peak memory {peak:.0f} MB, "
              f"fetch p50 {_q(_latencies(res, 'fetch'), 50):.0f} ms, "
              f"lookup p50 {_q(_latencies(res, 'lookup'), 50):.0f} ms, "
              f"CPU steal {res['steal_frac']:.1%}", file=sys.stderr)
        for e in errors[:20]:
            print(f"perfbench: incorrect: {e}", file=sys.stderr)
        if args.trace:
            metrics = per_layer(res, plan, reference, floor, work, peak)
        else:
            metrics = end_to_end(res, plan, reference, t_spawn)
        print(json.dumps(env_stamp(args, nproc, res)))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
