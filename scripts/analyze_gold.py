"""Inspect gold fixture patterns to infer ReVerb matcher rules."""
from __future__ import annotations
import os
import sys
from collections import Counter, defaultdict
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from openie_backend_spark.sources import fixtures

golds = list(fixtures.iter_gold_extractions())

# 1. What POS/chunk does the token AFTER each gold relation have, and what
#    is the last token of the relation (P or V form)?
last_tok = Counter()
after_rel = Counter()
p_words_in_rel = Counter()
p_chunks = Counter()
for g in golds:
    rs, re_ = g.rel
    last = re_ - 1
    form = "P" if g.pos[last] in ("IN", "TO", "RP") else ("V" if g.pos[last].startswith("VB") or g.pos[last]=="MD" else g.pos[last])
    last_tok[(form, g.pos[last])] += 1
    if form == "P":
        p_words_in_rel[g.tokens[last].lower()] += 1
        p_chunks[g.chunks[last]] += 1

print("rel last-token form:", last_tok.most_common())
print("P words ending rel:", p_words_in_rel.most_common(20))
print("P chunk tags:", p_chunks.most_common())

# 2. arg1: distance from arg1 end to rel start; what lies between?
gap = Counter()
between_pos = Counter()
for g in golds:
    d = g.rel[0] - g.arg1[1]
    gap[d] += 1
    if d > 0:
        between_pos[tuple(g.chunks[g.arg1[1]:g.rel[0]])] += 1
print("\narg1-gap:", sorted(gap.items()))
print("between chunk seqs:", between_pos.most_common(15))

# 3. arg2: always adjacent? arg2 span vs NP chunk boundaries.
adj = Counter()
for g in golds:
    adj[g.arg2[0] - g.rel[1]] += 1
print("\narg2-gap:", sorted(adj.items()))

# 4. arg1/arg2 chunk composition: do spans cross B-NP boundaries?
def span_kind(g, span):
    s, e = span
    tags = g.chunks[s:e]
    # does it start mid-chunk?
    startmid = tags[0].startswith("I-")
    nb = sum(1 for t in tags if t.startswith("B-NP"))
    other = [t for t in tags if not (t.endswith("NP"))]
    return (startmid, nb, tuple(sorted(set(other))))
k1 = Counter(span_kind(g, g.arg1) for g in golds)
k2 = Counter(span_kind(g, g.arg2) for g in golds)
print("\narg1 (startsMidChunk, numB-NP, nonNPtags):", k1.most_common(10))
print("arg2:", k2.most_common(10))

# 5. relation interior: which POS appear inside gold relations?
inner = Counter()
for g in golds:
    for k in range(*g.rel):
        inner[g.pos[k]] += 1
print("\nrel POS inventory:", inner.most_common())

# 6. first token of relations
first = Counter()
for g in golds:
    first[g.pos[g.rel[0]]] += 1
print("rel first POS:", first.most_common())
