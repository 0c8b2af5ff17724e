"""Classify: for each gold relation, was the V W* P extension taken or not,
and what features distinguish the two classes? Also: which NPs are skipped
for arg1?"""
from __future__ import annotations
import os
import sys
from collections import Counter
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from openie_backend_spark.sources import fixtures
from openie_backend_spark.nlp.reverb import VERB_TAGS, W_TAGS, P_TAGS, noun_phrases

golds = list(fixtures.iter_gold_extractions())

took, refused = [], []
for g in golds:
    rs, re_ = g.rel
    pos, toks, ch = g.pos, g.tokens, g.chunks
    n = len(pos)
    last = re_ - 1
    if pos[last] in P_TAGS:
        # long form; what is the W*P region? walk back to last verb/RB-after-verb
        k = last
        while k > rs and pos[k] in P_TAGS:
            k -= 1
        took.append((g, k + 1, re_))  # W* starts after last verb-ish
    else:
        # V form (or trailing RB). was an extension available?
        j = re_
        while j < n and pos[j] in W_TAGS:
            j += 1
        if j < n and pos[j] in P_TAGS and j > re_:
            refused.append((g, re_, j + 1))
        elif j < n and pos[j] in P_TAGS:  # immediate P refused (V P available)
            refused.append((g, re_, j + 1))

def feats(g, ws, pe):
    toks, pos, ch = g.tokens, g.pos, g.chunks
    pstart = pe - 1
    while pstart - 1 >= ws and pos[pstart - 1] in P_TAGS:
        pstart -= 1
    wregion = list(zip(toks[ws:pstart], pos[ws:pstart], ch[ws:pstart]))
    pregion = list(zip(toks[pstart:pe], pos[pstart:pe], ch[pstart:pe]))
    nxt = ch[pe] if pe < len(ch) else "EOS"
    return wregion, pregion, nxt

print("=== TOOK long form (%d) ===" % len(took))
cw = Counter()
for g, ws, pe in took[:300]:
    w, p, nxt = feats(g, ws, pe)
    cw[(tuple(t[2] for t in w), tuple(t[2] for t in p), nxt)] += 1
for k, v in cw.most_common(25):
    print(v, k)

print("\n=== REFUSED extension (%d) ===" % len(refused))
cr = Counter()
for g, ws, pe in refused[:300]:
    w, p, nxt = feats(g, ws, pe)
    cr[(tuple(t[2] for t in w), tuple(t[2] for t in p), nxt)] += 1
for k, v in cr.most_common(25):
    print(v, k)

# word-level of P in refused vs took
pw_t = Counter(); pw_r = Counter()
for g, ws, pe in took: pw_t[g.tokens[pe-1].lower()] += 1
for g, ws, pe in refused: pw_r[g.tokens[pe-1].lower()] += 1
print("\nP-word TOOK:", pw_t.most_common())
print("P-word REFUSED:", pw_r.most_common())

# --- arg1 skipped NPs ---
print("\n=== arg1 skipped NPs ===")
skipc = Counter()
for g in golds:
    nps = noun_phrases(g.chunks)
    rs = g.rel[0]
    for np in nps:
        if np[1] <= rs and np[0] >= g.arg1[1]:
            word = " ".join(g.tokens[np[0]:np[1]])
            prevch = g.chunks[np[0]-1] if np[0] else "BOS"
            skipc[(word.lower(), tuple(g.pos[np[0]:np[1]]), prevch)] += 1
for k, v in skipc.most_common(40):
    print(v, k)
