"""Offline parity harness: run our ReVerb matcher over the gold fixture
sentences and report precision/recall of (arg1, rel, arg2) spans vs the
reference's emitted extractions. Fast iteration loop — no Spark."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from openie_backend_spark.nlp import reverb
from openie_backend_spark.sources import fixtures


def main(verbose: bool = False) -> None:
    gold_by_sent: dict[str, set] = defaultdict(set)
    layers: dict[str, tuple] = {}
    for g in fixtures.iter_gold_extractions():
        key = " ".join(g.tokens)
        gold_by_sent[key].add((g.arg1, g.rel, g.arg2))
        layers[key] = (g.tokens, g.pos, g.chunks)

    tp = fp = fn = 0
    misses, spurious = [], []
    for key, (toks, pos, chunks) in layers.items():
        pred = {(e.arg1, e.rel, e.arg2) for e in reverb.extract(toks, pos, chunks)}
        gold = gold_by_sent[key]
        tp += len(pred & gold)
        fp += len(pred - gold)
        fn += len(gold - pred)
        for m in gold - pred:
            misses.append((key, m, pred))
        for s in pred - gold:
            spurious.append((key, s, gold))

    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    print(f"TP={tp} FP={fp} FN={fn}  P={p:.4f} R={r:.4f}")

    def show(name, items, limit):
        print(f"\n== {name} ({len(items)}) ==")
        for key, span, other in items[:limit]:
            toks = key.split(" ")
            a1, rel, a2 = span
            print(f"  a1={toks[a1[0]:a1[1]]} rel={toks[rel[0]:rel[1]]} a2={toks[a2[0]:a2[1]]}  {span}")
            if verbose:
                print(f"    sent: {key[:160]}")
                print(f"    other-side: {sorted(other)}")

    show("MISSED (gold not predicted)", misses, 15)
    show("SPURIOUS (predicted not gold)", spurious, 15)


if __name__ == "__main__":
    main(verbose="-v" in sys.argv)
