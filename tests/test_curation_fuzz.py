"""Batch fuzz oracles for the curation operators: a seeded corpus of
adversarial ASCII texts (plus crafted edge cases) runs through Spark
ONCE per operator and every row is checked against an independent
pure-Python oracle. Complements the DuckDB contract oracles — this
pins semantics on inputs the fixture corpus never produces (empty,
whitespace-only, pathological repetition, PII-adjacent almost-matches).

The alphabet is printable ASCII by construction: the operators are
defined over Java-regex `\\s` / `trim` semantics and the oracle over
Python `re.ASCII` — identical on ASCII, deliberately not exercised on
the unicode-whitespace corners (documented engine-portable subset).
"""

from __future__ import annotations

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.decontam import decontaminate
from med_doi_feature_extraction_spark.operators.pii import pii_features
from med_doi_feature_extraction_spark.operators.repetition import (
    repetition_features,
)

_WORDS = ["the", "a", "spark", "data", "row", "nav", "menu", "x1", "192", "call"]
_EDGES = [
    "",
    " ",
    "   \t\n  ",
    "a",
    "a a a a a a a a",
    "x " * 50,
    "one two three four five six seven eight nine ten",
    "dot.dot.dot 1.2.3.4.5 999.999.999.999",
    "email@ not-an@email @nope a@b.co",
    "+12345678901 123 456 789 12-34-56-78-90",
]


def _fuzz_texts(n: int = 300, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    out = list(_EDGES)
    punct = " .,;:!?-@/\t\n"
    while len(out) < n:
        k = rng.randint(0, 40)
        toks = [rng.choice(_WORDS) for _ in range(k)]
        # occasionally inject repetition blocks and near-PII
        if rng.random() < 0.3 and toks:
            toks += [toks[0]] * rng.randint(1, 10)
        if rng.random() < 0.2:
            toks.append(rng.choice(["bob@example.com", "10.0.0.1", "415-555-1234"]))
        sep = rng.choice([" ", "  ", rng.choice(punct)])
        out.append(sep.join(toks))
    return out


@pytest.fixture(scope="module")
def fuzz_df(spark):
    texts = _fuzz_texts()
    rows = [(i, t) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache(), texts


_WS = re.compile(r"\s+", re.ASCII)


def _units(text: str) -> list[str]:
    return [u for u in (x.strip(" ") for x in _WS.split(text)) if u]


def test_repetition_fuzz_oracle(spark, fuzz_df):
    df, texts = fuzz_df
    got = {
        r["doc_id"]: r
        for r in repetition_features(df, "text", delim=r"\s+").collect()
    }
    for i, t in enumerate(texts):
        us = _units(t)
        n = len(us)
        want_frac = round((n - len(set(us))) / n, 6) if n else 0.0
        total = sum(map(len, us))
        dist = sum(map(len, set(us)))
        want_char = round((total - dist) / total, 6) if total else 0.0
        assert got[i]["dup_unit_frac"] == pytest.approx(want_frac, abs=1e-9), (i, t)
        assert got[i]["dup_unit_char_frac"] == pytest.approx(want_char, abs=1e-9), (i, t)
        assert 0.0 <= got[i]["dup_unit_frac"] <= 1.0
        assert 0.0 <= got[i]["dup_unit_char_frac"] <= 1.0


def test_pii_fuzz_oracle(spark, fuzz_df):
    from med_doi_feature_extraction_spark.operators.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    df, texts = fuzz_df
    got = {r["doc_id"]: r for r in pii_features(df, "text").collect()}
    pats = [re.compile(p, re.ASCII) for p in (EMAIL_RE, IPV4_RE, PHONE_RE)]
    for i, t in enumerate(texts):
        # sequential-consumption semantics: each class counts on the
        # text left over after the more specific classes redacted
        t1 = pats[0].sub("<EMAIL>", t)
        t2 = pats[1].sub("<IP>", t1)
        e = len(pats[0].findall(t))
        ip = len(pats[1].findall(t1))
        ph = len(pats[2].findall(t2))
        assert got[i]["email_count"] == e, (i, t)
        assert got[i]["ip_count"] == ip, (i, t)
        assert got[i]["phone_count"] == ph, (i, t)
        assert got[i]["pii_count"] == e + ip + ph, (i, t)
        assert got[i]["text_redacted"] == pats[2].sub("<PHONE>", t2), (i, t)


def _java_split(text: str) -> list[str]:
    """Python mirror of Spark F.split semantics (Java split with
    limit=-1): leading AND trailing empty fields kept — identical to
    Python re.split."""
    return _WS.split(text)


def _ngrams(text: str, n: int) -> set[str]:
    toks = _java_split(text.lower().strip(" "))
    if len(toks) < n:
        return set()
    return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}


def test_decontam_fuzz_oracle(spark, fuzz_df):
    df, texts = fuzz_df
    bench_ids = set(range(0, len(texts), 13))
    bench = df.filter(F.col("doc_id") % 13 == 0)
    out = decontaminate(df, bench, "doc_id", "text", n=2, min_hits=1)
    got = {r["doc_id"]: r for r in out.collect()}
    bench_grams = set().union(
        *(_ngrams(texts[i], 2) for i in bench_ids)
    )
    for i, t in enumerate(texts):
        g = _ngrams(t, 2)
        hits = len(g & bench_grams)
        assert got[i]["total_ngrams"] == len(g), (i, t)
        assert got[i]["contaminated_ngrams"] == hits, (i, t)
        want = round(hits / len(g), 6) if g else 0.0
        assert got[i]["contamination_frac"] == pytest.approx(want, abs=1e-9)


def test_paragraph_dedup_fuzz_oracle(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    rng = random.Random(11)
    paras_pool = [f"para {i}" for i in range(12)] + ["BOILER", "  boiler "]
    texts = []
    for _ in range(120):
        k = rng.randint(0, 6)
        texts.append("\n\n".join(rng.choice(paras_pool) for _ in range(k)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, "doc_id", "text").collect()}

    # python oracle
    def norm(p: str) -> str:
        return re.sub(r"\s+", " ", p, flags=re.ASCII).strip(" ").lower()

    doc_paras = []
    for t in texts:
        ps = [p.strip(" ") for p in re.split(r"\r?\n\s*\r?\n", t, flags=re.ASCII)]
        doc_paras.append([p for p in ps if p])
    occ: dict[str, int] = {}
    first: dict[str, tuple] = {}
    for d, ps in enumerate(doc_paras):
        for i, p in enumerate(ps):
            np_ = norm(p)
            occ[np_] = occ.get(np_, 0) + 1
            first.setdefault(np_, (d, i))
    for d, ps in enumerate(doc_paras):
        kept = [
            p for i, p in enumerate(ps)
            if occ[norm(p)] < 2 or first[norm(p)] == (d, i)
        ]
        assert got[d]["paras_in"] == len(ps), (d, texts[d])
        assert got[d]["paras_kept"] == len(kept), (d, texts[d])
        assert got[d]["text_dedup"] == "\n\n".join(kept), (d, texts[d])


def test_tfidf_fuzz_oracle(spark, fuzz_df):
    from med_doi_feature_extraction_spark.operators.corpus_stats import tfidf_topk

    df, texts = fuzz_df
    n_docs = len(texts)
    out = tfidf_topk(df, "doc_id", "text", k=2, min_df=2)
    got: dict[int, list] = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    # python oracle
    doc_toks = [
        [w for w in _java_split(t.lower().strip(" ")) if w] for t in texts
    ]
    dfreq: dict[str, int] = {}
    for toks in doc_toks:
        for w in set(toks):
            dfreq[w] = dfreq.get(w, 0) + 1
    for i, toks in enumerate(doc_toks):
        tf: dict[str, int] = {}
        for w in toks:
            tf[w] = tf.get(w, 0) + 1
        scored = [
            (round(c * math.log((n_docs + 1) / (dfreq[w] + 1)), 6), w, c)
            for w, c in tf.items()
            if dfreq[w] >= 2
        ]
        want = sorted(scored, key=lambda x: (-x[0], x[1]))[:2]
        have = sorted(
            [(r["tfidf"], r["token"], r["tf"]) for r in got.get(i, [])],
            key=lambda x: (-x[0], x[1]),
        )
        assert len(have) == len(want), (i, want, have)
        for (ws, ww, wc), (hs, hw, hc) in zip(want, have):
            assert ww == hw and wc == hc, (i, want, have)
            assert hs == pytest.approx(ws, abs=1e-6)
