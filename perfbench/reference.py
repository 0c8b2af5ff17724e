"""Single-process reference for the benchmark's correctness checks.

Everything here is plain Python and pandas, no Spark: the same
per-sentence NLP the Spark extract stage wraps (the loop of
``synth.expected_triples``, extended with the span texts and the
confidence the quality filter reads), then pandas ports of the
instance quality filter, the grouping key scrub and instance-set
semantics, the group filter, the unlinked SPO ids, the conjunctive
``QuerySpec`` evaluation and the ingest Bloom filter.

The reference runs the repository's own NLP, so it checks the Spark
plumbing around the NLP, not the NLP itself: a change to the tagger,
chunker or matcher moves the reference and the program together.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd

EXTRACTION_COLS = [
    "url", "sent_id", "arg1_start", "arg1_end", "rel_start", "rel_end",
    "arg2_start", "arg2_end", "arg1_text", "rel_text", "arg2_text",
    "arg1_norm", "rel_norm", "arg2_norm", "confidence",
]
KEY = ["arg1_norm", "rel_norm", "arg2_norm"]
INSTANCE_ID = ["url", "sent_id", "arg1_start", "arg1_end", "rel_start",
               "rel_end", "arg2_start", "arg2_end"]


def _extract_sentences(sentences: list[str]) -> list[list[tuple]]:
    """Per sentence: (spans, span texts, norms, confidence) rows."""
    from openie_backend_spark.nlp import chunker, confidence, reverb, stemmer

    out = []
    for sent in sentences:
        toks, tags, chks = chunker.chunk_sentence(sent)
        rows = []
        for e in reverb.extract(toks, tags, chks):
            spans = (e.arg1, e.rel, e.arg2)
            rows.append((
                *[b for s in spans for b in s],
                *[" ".join(toks[s:t]) for s, t in spans],
                *[stemmer.index_key_part(toks[s:t], tags[s:t]) for s, t in spans],
                confidence.reverb_confidence(toks, tags, chks, e.arg1, e.rel, e.arg2),
            ))
        out.append(rows)
    return out


def extract(pages: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
    """Extraction rows and sentence list (page order) over the ``en``
    pages. The NLP runs once per distinct sentence: its output depends
    on the sentence text alone."""
    from openie_backend_spark.nlp import chunker

    en = pages[pages["lang"] == "en"]
    split = [(url, sid, sent) for url, text in zip(en["url"], en["text"])
             for sid, sent in enumerate(chunker.split_sentences(text))]
    distinct = list(dict.fromkeys(sent for _, _, sent in split))
    by_sentence = dict(zip(distinct, _extract_sentences(distinct)))
    rows = [(url, sid, *r) for url, sid, sent in split for r in by_sentence[sent]]
    return (pd.DataFrame(rows, columns=EXTRACTION_COLS),
            [sent for _, _, sent in split])


# ---- instance quality filter (operators/filters.instance_quality_filter)

_QUESTIONABLE = re.compile(r"[^A-Za-z0-9 .,'-]")


def quality_filter(ex: pd.DataFrame, min_conf: float) -> pd.DataFrame:
    from openie_backend_spark.operators import filters as f

    neg = set(f.NEGATION_WORDS)
    pron = set(f.PRONOUNS)

    def keep(r) -> bool:
        triple = " ".join((r.arg1_text, r.rel_text, r.arg2_text))
        low = triple.lower()
        return (
            not any(w in neg for w in r.rel_text.lower().split(" "))
            and not any(w in neg for w in r.arg2_text.lower().split(" "))
            and len(r.arg1_text) + len(r.rel_text) + len(r.arg2_text)
            <= f.MAX_TRIPLE_LEN
            and r.arg1_text.lower() not in pron
            and r.arg2_text.lower() not in pron
            and r.confidence >= min_conf
            and all(len(n.strip(" ")) > 0
                    for n in (r.arg1_norm, r.rel_norm, r.arg2_norm))
            and r.arg1_norm != r.arg2_norm
            and len(_QUESTIONABLE.findall(triple)) < 5
            and not any(s in low for s in f.LIKELY_ERROR_SUBSTRINGS)
        )

    if ex.empty:
        return ex
    return ex[[keep(r) for r in ex.itertuples()]]


# ---- grouping (operators/group.group_extractions)

_CNTRL = re.compile(r"[\x00-\x1f\x7f]")


def group(ex: pd.DataFrame) -> pd.DataFrame:
    """Group key (scrubbed norms) -> size = number of distinct instances."""
    if ex.empty:
        return pd.DataFrame(columns=KEY + ["size"])
    ex = ex.copy()
    for c in KEY:
        ex[c] = ex[c].map(lambda s: _CNTRL.sub("", s.replace("\t", " ")))
    ex = ex[(ex[KEY].apply(lambda col: col.str.len()) > 0).all(axis=1)]
    ex = ex.drop_duplicates(KEY + INSTANCE_ID)
    return ex.groupby(KEY, as_index=False).size()


def group_filter(groups: pd.DataFrame, min_instances: int) -> pd.DataFrame:
    return groups[groups["size"] >= min_instances]


def merge_sizes(tables: list[pd.DataFrame]) -> pd.DataFrame:
    """Ingest MERGE semantics on the key: sizes add up."""
    tables = [t for t in tables if not t.empty]
    if not tables:
        return pd.DataFrame(columns=KEY + ["size"])
    return pd.concat(tables).groupby(KEY, as_index=False)["size"].sum()


def node_id(norm: str) -> str:
    """materialize._node_id for an unlinked argument."""
    return "n:" + hashlib.sha256(norm.encode()).hexdigest()[:16]


def triples_digest(df: pd.DataFrame) -> str:
    """Order-free content hash of (subject, predicate, object, size) rows."""
    rows = sorted(map(tuple, df.astype(str).itertuples(index=False)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


# ---- serving (operators/query.fetch_groups with stem=False)

def fetch(table: pd.DataFrame, fields: dict[str, str], max_groups: int) -> list[list]:
    sel = table
    for col, val in fields.items():
        sel = sel[sel[col] == val]
    sel = sel.sort_values(["size"] + KEY, ascending=[False, True, True, True],
                          kind="mergesort").head(max_groups)
    return [[a, r, b, int(s)] for a, r, b, s in
            sel[KEY + ["size"]].itertuples(index=False)]


# ---- ingest Bloom "seen" filter (operators/dedup._bloom_positions)

def bloom_positions(text: str, m_bits: int, k: int) -> list[int]:
    content = hashlib.md5(text.encode()).hexdigest()
    return [int(hashlib.md5(f"{j}:{content}".encode()).hexdigest()[:8], 16) % m_bits
            for j in range(k)]
