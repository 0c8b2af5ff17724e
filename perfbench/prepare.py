"""Workload inputs and their reference answers, made from the seed.

Runs in the benchmark's parent process (``run.py``) before the Spark worker starts, so none of
it is inside a timed interval. Writes the worker's inputs under the
run's work directory and returns the reference ``run.py`` checks the
worker's outputs against.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import reference as ref

HERE = os.path.dirname(os.path.abspath(__file__))
CRAWL_DOCS = os.path.join(HERE, "data", "documents.parquet")
# byte copy of the sf0.1 ``documents`` table that bench.py reads
CRAWL_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"

N_LINKED_PAGES = 1000      # build_linked corpus size
BATCH_PAGES = 100          # pages per ingest micro-batch
N_BATCHES = 7              # most batches a run lands; batch 0 creates the table
RECRAWL_SHARE = 0.25       # share of a batch re-sent from earlier batches
VOCAB_KEYS = 64            # candidate fetch keys, drawn from the seeded table
BLOOM_M_BITS, BLOOM_K = 1 << 18, 3   # run_incremental's defaults

WORKLOADS = {
    # instance filter min_conf; group filter min_instances (None: no group
    # filter); link + typer; extract_pages' include_layers / dedup_sentences;
    # untimed builds before the measured one (see BENCHMARK.md)
    "build_crawl": dict(min_conf=0.0, min_instances=None, linked=False,
                        include_layers=False, dedup_sentences=False, warmup_builds=1),
    "build_linked": dict(min_conf=0.5, min_instances=2, linked=True,
                         include_layers=False, dedup_sentences=True, warmup_builds=0),
}


@dataclass
class Reference:
    triples: pd.DataFrame               # subject, predicate, object, group_size
    tables: list[pd.DataFrame]          # ingest table after batch 0..N-1
    batch_pages: list[int]              # pages landed per batch
    sentences: list[str]                # every en sentence of the build corpus
    stats: dict = field(default_factory=dict)


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _source_key() -> str:
    """Hash of everything the crawl reference depends on: the NLP
    package (code and models) and this benchmark's reference code."""
    import openie_backend_spark.nlp as nlp

    h = hashlib.sha256()
    paths = [os.path.join(HERE, "reference.py")]
    nlp_dir = os.path.dirname(nlp.__file__)
    paths += sorted(os.path.join(nlp_dir, f) for f in os.listdir(nlp_dir)
                    if f.endswith((".py", ".gz")))
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def crawl_pages() -> pd.DataFrame:
    if _sha256(CRAWL_DOCS) != CRAWL_SHA256:
        raise RuntimeError(f"{CRAWL_DOCS} is not the sf0.1 documents table")
    docs = pq.read_table(CRAWL_DOCS, columns=["doc_id", "text", "lang"]).to_pandas()
    docs["url"] = "doc://" + docs["doc_id"].astype(str)
    return docs[["url", "text", "lang"]]


def _extract_cached(pages: pd.DataFrame, cache_dir: str):
    """Crawl reference extraction, cached on content: the table is fixed,
    so only an NLP or reference change recomputes it."""
    os.makedirs(cache_dir, exist_ok=True)
    base = os.path.join(cache_dir, f"crawl_{CRAWL_SHA256[:12]}_{_source_key()}")
    if not os.path.exists(base + ".done"):
        ex, sents = ref.extract(pages)
        ex.to_parquet(base + ".ex.parquet", index=False)
        pd.DataFrame({"s": sents}).to_parquet(base + ".sents.parquet", index=False)
        open(base + ".done", "w").close()
    return (pd.read_parquet(base + ".ex.parquet"),
            pd.read_parquet(base + ".sents.parquet")["s"].tolist())


def _batches(pool: pd.DataFrame, rng: random.Random) -> list[pd.DataFrame]:
    """Micro-batches of fresh pages; from batch 1 on a RECRAWL_SHARE of
    each batch re-sends pages (same url and text) landed earlier."""
    n_re = int(BATCH_PAGES * RECRAWL_SHARE)
    fresh = iter(range(len(pool)))
    landed: list[int] = []
    out = []
    for b in range(N_BATCHES):
        n_old = min(n_re, len(landed))
        n_fresh = BATCH_PAGES - n_old
        idx = [next(fresh) for _ in range(n_fresh)]
        idx += rng.sample(landed, n_old)
        landed += idx[:n_fresh]
        out.append(pool.iloc[idx].reset_index(drop=True))
    return out


def prepare(workload: str, seed: int, work: str,
            cache_dir: str) -> tuple[dict, Reference]:
    """Write inputs under ``work``; return (worker plan, reference)."""
    cfg = WORKLOADS[workload]
    rng = random.Random(seed)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(inputs, "batches"))
    plan = {"workload": workload, "seed": seed, **cfg, "n_batches": N_BATCHES,
            "batch_dir": os.path.join(inputs, "batches")}

    if cfg["linked"]:
        from openie_backend_spark import synth

        pool_size = N_LINKED_PAGES + N_BATCHES * BATCH_PAGES
        allpages = synth.generate_pages(pool_size, seed=seed)
        allpages["warc_ts"] = allpages["warc_ts"].astype("datetime64[us, UTC]")
        build = allpages.iloc[:N_LINKED_PAGES]
        ingest_pool = allpages.iloc[N_LINKED_PAGES:][["url", "text", "lang"]]
        dims_dir = os.path.join(inputs, "dims")
        os.makedirs(dims_dir)
        for name, df in synth.generate_dims(seed).items():
            df.to_parquet(os.path.join(dims_dir, f"{name}.parquet"), index=False)
        plan["dims_dir"] = dims_dir
        ex_all, _ = ref.extract(allpages[["url", "text", "lang"]])
        build_urls = set(build["url"])
        is_build = ex_all["url"].isin(build_urls)
        ex_build, ex_by_url = ex_all[is_build], ex_all[~is_build]
        sents = [s for t in build[build["lang"] == "en"]["text"]
                 for s in _split(t)]
    else:
        # the crawl table is fixed: the seed does not change the build
        # corpus, only which documents the ingest batches re-send
        build = crawl_pages()
        ex_build, sents = _extract_cached(build, cache_dir)
        ex_by_url = ex_build
        order = list(range(len(build)))
        rng.shuffle(order)
        ingest_pool = build.iloc[order].reset_index(drop=True)

    build_path = os.path.join(inputs, "pages.parquet")
    build.to_parquet(build_path, index=False)
    plan["pages_path"] = build_path
    plan["n_pages"] = len(build)

    # ---- build reference: filter -> group -> [group filter] -> triples
    groups = ref.group(ref.quality_filter(ex_build, cfg["min_conf"]))
    if cfg["min_instances"]:
        groups = ref.group_filter(groups, cfg["min_instances"])
    triples = groups.rename(columns={"arg1_norm": "subject", "rel_norm": "predicate",
                                     "arg2_norm": "object", "size": "group_size"})

    # ---- ingest reference: Bloom drop of re-crawls, per-batch grouping,
    # MERGE by summing sizes
    batches = _batches(ingest_pool, rng)
    seen: set[int] = set()
    tables, landed = [], []
    current = ref.merge_sizes([])
    for b, pages in enumerate(batches):
        pq.write_table(pa.Table.from_pandas(pages, preserve_index=False),
                       os.path.join(plan["batch_dir"], f"batch_{b:03d}.parquet"))
        bits = [ref.bloom_positions(t, BLOOM_M_BITS, BLOOM_K) for t in pages["text"]]
        kept = [u for u, bs in zip(pages["url"], bits)
                if not (b and all(x in seen for x in bs))]
        for bs in bits:
            seen.update(bs)
        ex_b = ex_by_url[ex_by_url["url"].isin(set(kept))]
        current = ref.merge_sizes([current, ref.group(ex_b)])
        tables.append(current)
        landed.append(len(pages))

    # fetch keys come from the table batch 0 creates
    plan["vocab"] = tables[0][ref.KEY].sample(
        min(VOCAB_KEYS, len(tables[0])), random_state=seed).values.tolist()
    stats = {"sentences": len(sents), "distinct_sentences": len(set(sents))}
    return plan, Reference(triples.reset_index(drop=True), tables, landed, sents, stats)


def _split(text: str) -> list[str]:
    from openie_backend_spark.nlp import chunker

    return chunker.split_sentences(text)
