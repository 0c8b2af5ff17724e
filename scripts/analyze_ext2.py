"""Corrected took/refused extension analysis with verb-group boundary."""
from __future__ import annotations
import os
import sys
from collections import Counter
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from openie_backend_spark.sources import fixtures
from openie_backend_spark.nlp.reverb import VERB_TAGS, W_TAGS, P_TAGS

golds = list(fixtures.iter_gold_extractions())

def verb_group_end(pos, s, e):
    """end of the leading verb group (verbs/RP/RB runs) within [s,e)."""
    i = s
    while i < e and (pos[i] in VERB_TAGS or pos[i] in ("RB", "RBR", "RBS", "RP")):
        i += 1
    return i

took, refused = [], []
for g in golds:
    rs, re_ = g.rel
    pos, n = g.pos, len(g.pos)
    last = re_ - 1
    if pos[last] in P_TAGS:
        vg = verb_group_end(pos, rs, re_)
        ps = last
        while ps - 1 >= vg and pos[ps - 1] in P_TAGS:
            ps -= 1
        took.append((g, vg, ps, re_))
    else:
        j = re_
        while j < n and pos[j] in W_TAGS:
            j += 1
        if j < n and pos[j] in P_TAGS:
            pe = j + 1
            while pe < n and pos[pe] in P_TAGS:
                pe += 1
            refused.append((g, re_, j, pe))

def wfeat(g, ws, ps):
    return tuple(g.chunks[k] for k in range(ws, ps))

print(f"TOOK n={len(took)}  nonempty-W={sum(1 for t in took if t[2]>t[1])}")
cw = Counter(wfeat(g, ws, ps) for g, ws, ps, pe in took if ps > ws)
for k, v in cw.most_common(20):
    print(" ", v, k)

print(f"\nREFUSED n={len(refused)}")
cr = Counter(wfeat(g, ws, ps) for g, ws, ps, pe in refused)
for k, v in cr.most_common(12):
    print(" ", v, k)

# discriminator candidates: for nonempty-W took vs refused —
# (1) does the NP chunk containing W continue past P (P chunk == I-NP)?
# (2) does W region end exactly at an NP chunk end (next of P is B-NP)?
def props(g, ws, ps, pe):
    ch = g.chunks
    p_inside_np = all(ch[k] == "I-NP" for k in range(ps, pe))
    w_single_np = ws < ps and ch[ws] == "B-NP" and all(c == "I-NP" for c in wfeat(g, ws + 1, ps)) if False else None
    after = ch[pe] if pe < len(ch) else "EOS"
    return p_inside_np, after

pt = Counter(props(g, ws, ps, pe) for g, ws, ps, pe in took if ps > ws)
pr = Counter(props(g, ws, ps, pe) for g, ws, ps, pe in refused)
print("\nTOOK nonempty-W (P-all-I-NP, after-chunk):", pt.most_common())
print("REFUSED (P-all-I-NP, after-chunk):", pr.most_common())

print("\n-- examples TOOK nonempty W --")
for g, ws, ps, pe in took:
    if ps > ws:
        print("  rel=", g.tokens[g.rel[0]:g.rel[1]], "| W=", g.tokens[ws:ps], g.chunks[ws:ps], "| P=", g.tokens[ps:pe], g.chunks[ps:pe])
print("\n-- examples REFUSED (first 25) --")
for g, ws, ps, pe in refused[:25]:
    print("  rel=", g.tokens[g.rel[0]:g.rel[1]], "| W=", g.tokens[ws:ps], g.chunks[ws:ps], "| P=", g.tokens[ps:pe], g.chunks[ps:pe])
