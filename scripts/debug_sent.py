"""Show gold vs predicted with full layers for mismatched sentences."""
from __future__ import annotations
import os
import sys
from collections import defaultdict
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from openie_backend_spark.nlp import reverb
from openie_backend_spark.sources import fixtures

pat = sys.argv[1] if len(sys.argv) > 1 else None
limit = int(sys.argv[2]) if len(sys.argv) > 2 else 8

gold_by_sent = defaultdict(set)
layers = {}
for g in fixtures.iter_gold_extractions():
    key = " ".join(g.tokens)
    gold_by_sent[key].add((g.arg1, g.rel, g.arg2))
    layers[key] = (g.tokens, g.pos, g.chunks)

shown = 0
for key, (toks, pos, chunks) in layers.items():
    if pat and pat not in key:
        continue
    pred = {(e.arg1, e.rel, e.arg2) for e in reverb.extract(toks, pos, chunks)}
    gold = gold_by_sent[key]
    if pred == gold and pat is None:
        continue
    print("=" * 100)
    for i, (t, p, c) in enumerate(zip(toks, pos, chunks)):
        print(f"{i}:{t}/{p}/{c}", end=" ")
    print()
    def fmt(s):
        a1, r, a2 = s
        return f"({' '.join(toks[a1[0]:a1[1]])} | {' '.join(toks[r[0]:r[1]])} | {' '.join(toks[a2[0]:a2[1]])}) {s}"
    for s in sorted(gold - pred): print("  GOLD-ONLY:", fmt(s))
    for s in sorted(pred - gold): print("  PRED-ONLY:", fmt(s))
    for s in sorted(gold & pred): print("  BOTH     :", fmt(s))
    shown += 1
    if shown >= limit:
        break
