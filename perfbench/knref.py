"""Kneser–Ney bigram reference in plain Python for the lm output check.

Same arithmetic as ``lm.oracle_kn_score_sql`` (the DuckDB oracle of
``train_kn_bigram_lm`` + ``kn_quality_score``), which takes about 30 s
per 2,000-document corpus in DuckDB 1.0 on a 4-core machine; this twin
takes about a second. ``tests/test_knref.py`` checks the two agree.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

_WS = re.compile(r"\s+")


def _split(text: str) -> list[str]:
    return _WS.split(text.strip().lower())


def kn_scores(docs, discount: float = 0.75) -> list[tuple]:  # noqa: ANN001
    """(doc_id, n_tokens, logp_per_token, ppl) per row of ``docs``
    (a frame with doc_id and text); docs without tokens get NULLs."""
    d = discount
    c2: Counter = Counter()
    for text in docs["text"]:
        if text is None:
            continue
        a = _split(text)
        for w1, w2 in zip(a, a[1:]):
            if len(w1) + len(w2) + 1 > 1:
                c2[(w1, w2)] += 1
    c1: Counter = Counter()
    n1f: Counter = Counter()
    n1b: Counter = Counter()
    for (w1, w2), c in c2.items():
        c1[w1] += c
        n1f[w1] += 1
        n1b[w2] += 1
    n1pp = sum(n1b.values())
    log_pcont = {w: math.log(n / n1pp) for w, n in n1b.items()}
    log_lambda = {w: math.log(d * n1f[w] / c1[w]) for w in c1}
    bigram = {
        g: math.log((c - d) / c1[g[0]] + d * n1f[g[0]] / c1[g[0]] * (n1b[g[1]] / n1pp))
        for g, c in c2.items()
    }
    floor = math.log(1.0 / (len(log_pcont) + 1.0))
    out = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        a = [t for t in _split(text) if t] if text is not None else []
        if not a:
            out.append((doc_id, None, None, None))
            continue
        total = 0.0
        prev = None
        for tok in a:
            lp = bigram.get((prev, tok)) if prev is not None else None
            if lp is None:
                lp = log_pcont.get(tok, floor)
                if prev is not None and prev in log_lambda:
                    lp += log_lambda[prev]
            total += lp
            prev = tok
        lpt = round(total / len(a), 6)
        out.append((doc_id, len(a), lpt, round(math.exp(-lpt), 3)))
    return out
