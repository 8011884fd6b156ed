"""Curation-surface operators: decontamination, repetition quality,
deterministic sampling, url features, corpus stats.

Each operator also has a DuckDB-oracled contract query in
``__spark_entry__`` — these tests pin the semantic edge cases the
hash compare can't localize (planted overlaps, boundary texts,
determinism across layouts)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.corpus_stats import (
    document_frequency,
    tfidf_topk,
)
from med_doi_feature_extraction_spark.operators.decontam import decontaminate
from med_doi_feature_extraction_spark.operators.repetition import (
    repetition_features,
    top_ngram_stats,
)
from med_doi_feature_extraction_spark.operators.sampling import (
    hash_sample,
    stratified_sample,
    train_eval_split,
)
from med_doi_feature_extraction_spark.operators.urls import (
    hot_domains,
    url_features,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over a sleeping cat", "en"),
        (2, "completely different words here entirely unique tokens", "en"),
        (3, "der schnelle braune fuchs springt sehr hoch heute", "de"),
        (4, "nav nav nav nav nav nav nav nav", "en"),  # repetition bomb
        (5, "", "en"),
        (6, "single", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"]).cache()


# ------------------------------------------------------------- decontam

def test_decontam_planted_overlap(spark, docs):
    bench = docs.filter(F.col("doc_id") == 0)
    out = decontaminate(
        docs, bench, "doc_id", "text", n=3, min_hits=1
    ).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    # bench doc is 100% contaminated against itself
    assert rows[0]["contamination_frac"] == 1.0 and rows[0]["contaminated"]
    # doc 1 shares exactly the 3-grams of the common prefix
    # "the quick brown fox jumps over": 4 trigrams
    assert rows[1]["contaminated_ngrams"] == 4
    assert rows[1]["contaminated"]
    # disjoint doc is clean but still present (left join)
    assert rows[2]["contaminated_ngrams"] == 0 and not rows[2]["contaminated"]
    # short/empty docs: no n-grams, frac 0
    assert rows[5]["total_ngrams"] == 0
    assert rows[5]["contamination_frac"] == 0.0
    assert rows[6]["total_ngrams"] == 0
    # every corpus doc appears exactly once
    assert out.count() == docs.count()


def test_decontam_hashed_path_matches_broadcast(spark, docs):
    bench = docs.filter(F.col("doc_id") % 2 == 0)
    a = decontaminate(docs, bench, "doc_id", "text", n=2).orderBy("doc_id")
    b = decontaminate(
        docs, bench, "doc_id", "text", n=2, broadcast_bench=False
    ).orderBy("doc_id")
    assert [r.asDict() for r in a.collect()] == [
        r.asDict() for r in b.collect()
    ]


def test_decontam_attribution_provenance_and_cap(spark, docs):
    """bench_id_col: each contaminated doc reports WHICH bench docs it
    collides with; lists are sorted-ascending deterministic prefixes
    and both cap levels bound the payload."""
    bench = docs.filter(F.col("doc_id").isin(0, 1))
    out = decontaminate(
        docs, bench, "doc_id", "text", n=3, min_hits=1,
        bench_id_col="doc_id",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 0 shares its own grams (bench 0) and the common-prefix grams
    # (bench 0 AND 1) — attribution must name both bench docs
    assert rows[0]["bench_ids"] == "0,1" and rows[0]["n_bench_docs"] == 2
    assert rows[1]["bench_ids"] == "0,1"
    # clean doc: zero attribution, empty list
    assert rows[2]["n_bench_docs"] == 0 and rows[2]["bench_ids"] == ""
    # gram-less doc survives with empty attribution
    assert rows[5]["n_bench_docs"] == 0 and rows[5]["bench_ids"] == ""
    # cap=1: sorted prefix keeps the smallest id only
    capped = decontaminate(
        docs, bench, "doc_id", "text", n=3, min_hits=1,
        bench_id_col="doc_id", max_bench_ids=1,
    )
    crows = {r["doc_id"]: r for r in capped.collect()}
    assert crows[0]["bench_ids"] == "0" and crows[0]["n_bench_docs"] == 1
    # hashed (non-broadcast) path agrees
    hashed = decontaminate(
        docs, bench, "doc_id", "text", n=3, min_hits=1,
        bench_id_col="doc_id", broadcast_bench=False,
    )
    assert sorted(
        (r["doc_id"], r["bench_ids"]) for r in hashed.collect()
    ) == sorted((r["doc_id"], r["bench_ids"]) for r in out.collect())


def test_decontam_min_hits_threshold(spark, docs):
    bench = docs.filter(F.col("doc_id") == 0)
    out = decontaminate(docs, bench, "doc_id", "text", n=3, min_hits=5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert not rows[1]["contaminated"]  # 4 hits < 5
    assert rows[0]["contaminated"]


# ------------------------------------------------------------ repetition

def test_repetition_fractions(spark, docs):
    out = repetition_features(docs, "text", delim=r"\s+")
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 4: 8 units, 1 distinct → 7/8 dup, same by chars (equal lens)
    assert rows[4]["dup_unit_frac"] == pytest.approx(7 / 8, abs=1e-6)
    assert rows[4]["dup_unit_char_frac"] == pytest.approx(7 / 8, abs=1e-6)
    # doc 0: 9 tokens, "the" twice → 1/9 dup; char frac = 3/35
    assert rows[0]["dup_unit_frac"] == pytest.approx(1 / 9, abs=1e-6)
    assert rows[0]["dup_unit_char_frac"] == pytest.approx(
        3 / 35, abs=1e-6
    )
    # empty text → 0.0, not null/zero-division
    assert rows[5]["dup_unit_frac"] == 0.0
    assert rows[5]["dup_unit_char_frac"] == 0.0
    # fully-unique doc → 0.0
    assert rows[2]["dup_unit_frac"] == 0.0


def test_repetition_crlf_lines(spark):
    """CRLF and LF line endings must sessionize lines identically —
    the default delimiter eats the \\r."""
    df = spark.createDataFrame(
        [(1, "nav\r\nnav\r\nnav"), (2, "nav\nnav\nnav")], ["id", "text"]
    )
    got = {r["id"]: r for r in repetition_features(df, "text").collect()}
    assert got[1]["dup_unit_frac"] == got[2]["dup_unit_frac"]
    assert got[1]["dup_unit_frac"] == pytest.approx(2 / 3, abs=1e-6)


def test_decontam_null_text_reports_zero(spark):
    df = spark.createDataFrame(
        [(1, "shared text here"), (2, None)], ["doc_id", "text"]
    )
    bench = df.filter(F.col("doc_id") == 1)
    for bcast in (True, False):
        got = {
            r["doc_id"]: r
            for r in decontaminate(
                df, bench, "doc_id", "text", n=2, broadcast_bench=bcast
            ).collect()
        }
        assert got[2]["total_ngrams"] == 0, bcast
        assert got[2]["contaminated_ngrams"] == 0
        assert got[2]["contamination_frac"] == 0.0
        assert not got[2]["contaminated"]


def test_top_ngram_stats(spark, docs):
    out = top_ngram_stats(docs, "doc_id", "text", n=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[4]["top_ngram"] == "nav nav"
    assert rows[4]["gram_count"] == 7
    # ties in doc 0 (all bigrams once) break lexicographically
    assert rows[0]["gram_count"] == 1
    assert rows[0]["top_ngram"] == "brown fox"
    # docs with < n tokens are omitted
    assert 5 not in rows and 6 not in rows


# -------------------------------------------------------------- sampling

def _py_uniform(key: str, salt: str) -> float:
    h = hashlib.sha256(f"{key}|{salt}".encode()).hexdigest()[:8]
    return int(h, 16) / 2**32


def test_hash_sample_matches_reference_hash(spark, docs):
    kept = {
        r["doc_id"]
        for r in hash_sample(docs, "doc_id", 0.5, salt="s").collect()
    }
    expected = {
        i for i in range(7) if _py_uniform(str(i), "s") < 0.5
    }
    assert kept == expected


def test_hash_sample_layout_independent(spark, docs):
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.4).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(7), "doc_id", 0.4).collect()
    }
    assert a == b


def test_stratified_rates_and_default(spark, docs):
    out = stratified_sample(
        docs, "doc_id", "lang", {"en": 1.0}, default_rate=0.0
    )
    langs = {r["lang"] for r in out.collect()}
    assert langs == {"en"}  # de stratum fully dropped
    assert out.count() == 6


def test_train_eval_split_stable_and_total(spark, docs):
    out = train_eval_split(docs, "doc_id", eval_frac=0.5)
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(got) == 7
    for i, s in got.items():
        want = "eval" if _py_uniform(str(i), "split") < 0.5 else "train"
        assert s == want


def test_sampling_null_keys_kept_consistently(spark):
    """NULL keys must neither vanish from samples nor disagree
    between hash_sample and train_eval_split."""
    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), ("k1", "c")], ["key", "v"]
    )
    kept = hash_sample(df, "key", 1.0)
    assert kept.count() == 3  # rate 1.0 keeps everything, nulls too
    u_null = _py_uniform("", "")
    at_rate = {r["v"] for r in hash_sample(df, "key", u_null + 1e-9).collect()}
    assert {"a", "b"} <= at_rate  # both nulls on the same side
    split = {r["v"]: r["split"] for r in
             train_eval_split(df, "key", eval_frac=u_null + 1e-9, salt="").collect()}
    assert split["a"] == split["b"] == "eval"


# ------------------------------------------------------------------ urls

def test_url_features_canonicalization(spark):
    rows = [
        (1, "HTTPS://WWW.Shop1.Example.COM/"),
        (2, "https://www.shop1.example.com/cat/3/"),
        (3, "https://host.example.com:443/item/9"),
        (4, "http://h.example.com/p?id=5&ref=home#top"),
        (5, "http://plain.example.com"),
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = {r["id"]: r for r in url_features(df).collect()}
    assert got[1]["canonical_url"] == "https://www.shop1.example.com/"
    assert got[1]["host"] == "www.shop1.example.com"
    assert got[1]["domain"] == "example.com"
    assert got[1]["path_depth"] == 0
    assert got[2]["canonical_url"] == "https://www.shop1.example.com/cat/3"
    assert got[2]["path_depth"] == 2
    assert got[3]["canonical_url"] == "https://host.example.com/item/9"
    assert got[3]["host"] == "host.example.com"
    assert got[4]["canonical_url"] == "http://h.example.com/p?id=5&ref=home"
    assert got[4]["query_params"] == 2
    # RFC 3986 6.2.3: empty path ≡ "/" — homepage is ONE key
    assert got[5]["canonical_url"] == "http://plain.example.com/"
    assert got[5]["path_depth"] == 0 and got[5]["query_params"] == 0


def test_url_domain_public_suffix(spark):
    """Multi-label public suffixes keep THREE labels (VERDICT r3
    task 9): all of *.co.uk must NOT merge into one 'co.uk' key."""
    rows = [
        (1, "https://www.shop.example.co.uk/a"),
        (2, "https://other.example.co.uk/b"),
        (3, "http://news.bbc.co.uk/"),
        (4, "https://a.b.example.com.au/"),
        (5, "https://plain.example.com/"),
        (6, "http://co.uk/"),            # bare suffix → 2-label fallback
        (7, "https://example.co.uk/"),   # exactly registrable
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = {r["id"]: r["domain"] for r in url_features(df).collect()}
    assert got[1] == got[2] == "example.co.uk"
    assert got[3] == "bbc.co.uk"
    assert got[4] == "example.com.au"
    assert got[5] == "example.com"
    assert got[6] == "co.uk"
    assert got[7] == "example.co.uk"
    assert got[1] != got[3]  # distinct registrants stay distinct


def test_url_fragment_query_and_bare_authority(spark):
    rows = [
        (1, "http://a.example.com/#/route?tab=1&x=2"),  # '?' in fragment
        (2, "http://a.example.com"),
        (3, "http://a.example.com/"),
        (4, "http://a.example.com?x=1"),  # query on empty path
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = {r["id"]: r for r in url_features(df).collect()}
    # fragment '?' is NOT a query component
    assert got[1]["query_params"] == 0
    assert got[1]["canonical_url"] == "http://a.example.com/"
    # bare authority and explicit root collapse to one key
    assert got[2]["canonical_url"] == got[3]["canonical_url"] == "http://a.example.com/"
    assert got[4]["canonical_url"] == "http://a.example.com/?x=1"
    assert got[4]["query_params"] == 1


def test_url_userinfo_stripped(spark):
    """userinfo variants collapse to one host/canonical key and the
    host column honours its 'host part' contract (ADVICE r3)."""
    rows = [
        (1, "http://user@a.example.com/"),
        (2, "http://user:pw@a.example.com/x"),
        (3, "http://a.example.com/"),
        (4, "HTTPS://User@B.Example.com:443/p?q=1"),
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = {r["id"]: r for r in url_features(df).collect()}
    assert got[1]["host"] == got[2]["host"] == got[3]["host"] == "a.example.com"
    assert got[1]["canonical_url"] == got[3]["canonical_url"] == "http://a.example.com/"
    assert got[2]["canonical_url"] == "http://a.example.com/x"
    assert got[4]["host"] == "b.example.com"
    assert got[4]["canonical_url"] == "https://b.example.com/p?q=1"
    assert got[1]["domain"] == "example.com"


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over a URL grammar —
    a canonical form that moves under re-application is not a key."""
    import itertools

    schemes = ["http://", "HTTPS://"]
    hosts = ["A.Example.COM", "a.example.com:443", "b.ex.org:8080", "U:p@c.ex.net"]
    paths = ["", "/", "/P/q/", "/p"]
    tails = ["", "?A=1&b=2", "#Frag", "?x=1#f", "/#/route?t=1"]
    urls = [
        (i, s + h + p + t)
        for i, (s, h, p, t) in enumerate(
            itertools.product(schemes, hosts, paths, tails)
        )
    ]
    df = spark.createDataFrame(urls, ["id", "url"])
    once = url_features(df).select("id", F.col("canonical_url").alias("url"))
    twice = url_features(once).select("id", "canonical_url")
    joined = once.join(twice, "id")
    moved = joined.filter(F.col("url") != F.col("canonical_url")).collect()
    assert moved == [], [(r["url"], r["canonical_url"]) for r in moved]


def test_hot_domains_census(spark):
    rows = [(i, f"https://sub{i % 2}.big.com/x") for i in range(20)] + [
        (100, "https://small.com/y")
    ]
    df = spark.createDataFrame(rows, ["id", "url"])
    got = {r["domain"]: r["n_pages"] for r in hot_domains(df, min_pages=5).collect()}
    assert got == {"big.com": 20}


# ------------------------------------------------------------ paragraphs

def test_paragraph_dedup_drops_boilerplate_keeps_first(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    rows = [
        (0, "intro zero\n\nCOOKIE NOTICE\n\nbody zero"),
        (1, "intro one\n\nCOOKIE NOTICE\n\nbody one"),
        (2, "COOKIE NOTICE\n\nintro two"),
        (3, "all unique\n\nparagraphs here"),
        (4, "COOKIE NOTICE"),  # collapses to empty
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, "doc_id", "text").collect()}
    assert got[0]["text_dedup"] == "intro zero\n\nCOOKIE NOTICE\n\nbody zero"
    assert got[0]["paras_in"] == 3 and got[0]["paras_kept"] == 3
    assert got[1]["text_dedup"] == "intro one\n\nbody one"  # order kept
    assert got[1]["paras_in"] == 3 and got[1]["paras_kept"] == 2
    assert got[2]["text_dedup"] == "intro two"
    assert got[3]["paras_kept"] == 2  # untouched
    assert got[4]["text_dedup"] == "" and got[4]["paras_kept"] == 0
    assert got[5]["paras_in"] == 0 and got[5]["text_dedup"] == ""
    assert got[6]["paras_in"] == 0 and got[6]["text_dedup"] == ""
    assert len(got) == 7


def test_paragraph_dedup_normalized_matching_keeps_original_text(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    # same paragraph modulo case/whitespace must dedup together, but
    # the SURVIVING text is the first occurrence's original bytes
    rows = [
        (0, "Cookie  Notice\n\nkeep me"),
        (1, "cookie notice\n\nother text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, "doc_id", "text").collect()}
    assert got[0]["text_dedup"] == "Cookie  Notice\n\nkeep me"
    assert got[1]["text_dedup"] == "other text"


def test_paragraph_dedup_min_occurrences_threshold(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        paragraph_dedup,
    )

    rows = [(i, "TWICE ONLY\n\nunique " + str(i)) for i in range(2)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           paragraph_dedup(df, "doc_id", "text", min_occurrences=3).collect()}
    # appears twice < 3 → left alone everywhere
    assert got[0]["paras_kept"] == 2 and got[1]["paras_kept"] == 2


def test_boilerplate_strip_removes_all_occurrences(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        boilerplate_strip,
    )

    rows = [(i, f"unique intro {i}\n\nCOOKIE BANNER\n\nbody {i}") for i in range(5)]
    rows.append((9, "only doc without banner"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           boilerplate_strip(df, "doc_id", "text", min_doc_frequency=4).collect()}
    # the banner is in 5 >= 4 docs → removed from EVERY doc (no
    # first-occurrence keeper, unlike paragraph_dedup)
    for i in range(5):
        assert "COOKIE BANNER" not in got[i]["text_clean"]
        assert got[i]["text_clean"] == f"unique intro {i}\n\nbody {i}"
        assert got[i]["paras_in"] == 3 and got[i]["paras_kept"] == 2
    assert got[9]["text_clean"] == "only doc without banner"


def test_boilerplate_strip_df_counts_docs_not_occurrences(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        boilerplate_strip,
    )

    # one doc repeats the paragraph 5 times; doc frequency is still 1
    df = spark.createDataFrame(
        [(0, "\n\n".join(["SAME PARA"] * 5)), (1, "other")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           boilerplate_strip(df, "doc_id", "text", min_doc_frequency=2).collect()}
    assert got[0]["paras_kept"] == 5  # within-doc repeats don't count as df


def test_boilerplate_strip_broadcast_flag_parity(spark):
    from med_doi_feature_extraction_spark.operators.paragraphs import (
        boilerplate_strip,
    )

    rows = [(i, f"u{i}\n\nFOOTER") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = boilerplate_strip(df, "doc_id", "text", min_doc_frequency=3).orderBy(
        "doc_id").collect()
    b = boilerplate_strip(
        df, "doc_id", "text", min_doc_frequency=3, broadcast_hot=False
    ).orderBy("doc_id").collect()
    assert a == b


# ------------------------------------------------------------------- pii

def test_pii_detection_and_redaction(spark):
    from med_doi_feature_extraction_spark.operators.pii import pii_features

    rows = [
        (1, "reach me at alice.smith+spam@mail.example.org today"),
        (2, "server 10.0.0.1 and backup 192.168.1.254 are down"),
        (3, "call +1 415-555-1234 or 020 7946 0958 now"),
        (4, "no pii here at all"),
        (5, "bob@x.io from 127.0.0.1 dial 415-555-9876"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r for r in pii_features(df, "text").collect()}
    assert got[1]["email_count"] == 1 and got[1]["pii_count"] == 1
    assert "<EMAIL>" in got[1]["text_redacted"]
    assert "alice" not in got[1]["text_redacted"]
    assert got[2]["ip_count"] == 2
    assert got[2]["text_redacted"].count("<IP>") == 2
    assert got[3]["phone_count"] == 2
    assert got[3]["text_redacted"].count("<PHONE>") == 2
    assert got[4]["pii_count"] == 0
    assert got[4]["text_redacted"] == "no pii here at all"
    assert got[5]["email_count"] == 1 and got[5]["ip_count"] == 1
    assert got[5]["phone_count"] == 1 and got[5]["pii_count"] == 3


def test_pii_redaction_order_ip_not_eaten_by_phone(spark):
    from med_doi_feature_extraction_spark.operators.pii import pii_features

    df = spark.createDataFrame([(1, "ip 1.2.3.4 tel 123-456-7890")], ["id", "text"])
    r = pii_features(df, "text").first()
    assert r["text_redacted"] == "ip <IP> tel <PHONE>"


def test_pii_counts_agree_with_redaction_on_nested_spans(spark):
    from med_doi_feature_extraction_spark.operators.pii import pii_features

    # the email's digit local part would match PHONE_RE on raw text;
    # sequential counting must see it consumed by the email pass
    df = spark.createDataFrame([(1, "reach 123456789@example.com")], ["id", "text"])
    r = pii_features(df, "text").first()
    assert r["email_count"] == 1
    assert r["phone_count"] == 0
    assert r["pii_count"] == 1
    assert r["text_redacted"] == "reach <EMAIL>"


# ----------------------------------------------------------- corpus stats

def test_document_frequency(spark, docs):
    out = {r["token"]: r["df"] for r in
           document_frequency(docs, "text").collect()}
    assert out["the"] == 2  # docs 0 and 1 (distinct per doc)
    assert out["fox"] == 2
    assert out["nav"] == 1
    filtered = document_frequency(docs, "text", min_df=2)
    assert {r["token"] for r in filtered.collect()} >= {"the", "fox"}
    assert "nav" not in {r["token"] for r in filtered.collect()}


def test_document_frequency_no_phantom_empty_token(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "\tword"), (2, "\nword")], ["doc_id", "text"]
    )
    got = {r["token"]: r["df"] for r in
           document_frequency(df, "text").collect()}
    assert "" not in got  # split artifacts must not become vocabulary
    assert got == {"word": 2}


def test_tfidf_topk_ranks_distinctive_tokens(spark, docs):
    out = tfidf_topk(docs, "doc_id", "text", k=2, min_df=1)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r["doc_id"], []).append(r)
    # every doc with tokens appears, ≤ k rows each
    assert all(len(v) <= 2 for v in per_doc.values())
    # doc 4's 'nav' (tf=7, rare) dominates
    assert per_doc[4][0]["token"] == "nav"
    assert per_doc[4][0]["tf"] == 8
    # doc 0: tf=2 'the' (idf ln(8/3)) outranks tf=1 rare tokens
    # (ln(8/2)); the tf=1 df=1 tie breaks lexicographically → 'dog'
    toks0 = [r["token"] for r in sorted(per_doc[0], key=lambda r: (-r["tfidf"], r["token"]))]
    assert toks0 == ["the", "dog"]


# ------------------------------------------------------------ postings

def test_build_postings_cap_and_salt_invariance(spark):
    from med_doi_feature_extraction_spark.operators.corpus_stats import (
        build_postings,
    )

    # "hot" appears in all 30 docs; "rare3" only in doc 3
    rows = [(i, f"hot rare{i}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for salts in (1, 4, 16):
        got = {r["token"]: r for r in
               build_postings(df, "doc_id", "text", cap=5, n_salts=salts).collect()}
        hot = got["hot"]
        assert hot["doc_freq"] == 30 and hot["truncated"] is True
        # deterministic cap semantics: the 5 SMALLEST ids
        assert hot["postings"] == "0,1,2,3,4", salts
        assert got["rare3"]["postings"] == "3"
        assert got["rare3"]["truncated"] is False


def test_build_postings_empty_text_no_phantom_token(spark):
    from med_doi_feature_extraction_spark.operators.corpus_stats import (
        build_postings,
    )

    df = spark.createDataFrame([(0, ""), (1, "  "), (2, "word")],
                               ["doc_id", "text"])
    got = build_postings(df, "doc_id", "text", cap=3).collect()
    assert {r["token"] for r in got} == {"word"}


# ------------------------------------------------------ blocklist

def test_blocklist_filter_suffix_semantics(spark):
    from med_doi_feature_extraction_spark.operators.urls import (
        blocklist_filter,
    )

    urls = [
        (0, "https://example.com/x"),            # blocked: exact domain
        (1, "https://a.b.example.com/y"),        # blocked: subtree
        (2, "https://notexample.com/z"),         # kept: no dot boundary
        (3, "https://bad.other.org/"),           # blocked: deep entry
        (4, "https://good.other.org/"),          # kept: sibling subtree
        (5, "https://WWW.Example.COM:443/u"),    # blocked: normalized host
        (6, "https://site.co.uk/"),              # kept: TLD-wide ignored
    ]
    bl = spark.createDataFrame(
        [("Example.com",), ("bad.other.org",), ("co.uk",)], ["entry"]
    )
    df = spark.createDataFrame(urls, ["i", "url"])
    kept = {r["i"] for r in blocklist_filter(df, bl, "url").collect()}
    assert kept == {2, 4, 6}


def test_corpus_card_exact_rates(spark):
    from med_doi_feature_extraction_spark.operators.corpus_stats import (
        corpus_card,
    )

    prose = (
        "The results have shown that models trained with better data be"
        " stronger and that filtering of the corpus can have effect."
    )
    rows = [
        (0, prose, "en"),
        (1, prose, "en"),                     # exact dup of 0
        (2, "tiny text here", "en"),          # fails min_words
        (3, "café normal � damaged", "de"),  # enc damage
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["lang"]: r
        for r in corpus_card(df, "text", "lang", min_words=10).collect()
    }
    en, de = out["en"], out["de"]
    assert en["n_docs"] == 3 and de["n_docs"] == 1
    assert en["distinct_frac"] == pytest.approx(2 / 3, abs=1e-4)
    assert en["gopher_pass_rate"] == pytest.approx(2 / 3, abs=1e-4)
    assert en["enc_clean_rate"] == 1.0
    assert de["enc_clean_rate"] == 0.0  # replacement char
    assert en["n_tokens"] == en["mean_doc_tokens"] * 3


class TestPmiCollocations:
    def test_hand_computed(self, spark):
        import math

        from med_doi_feature_extraction_spark.operators.corpus_stats import (
            pmi_collocations,
        )

        # unigrams a:3 b:2 c:1 (N1=6); bigrams "a b":2 "a c":1 (N2=3)
        docs = spark.createDataFrame(
            [("a b",), ("a b",), ("a c",)], "text: string"
        )
        rows = pmi_collocations(docs, "text", min_count=1, k=10).collect()
        # both grams: pmi = ln(4); tie → gram ASC order
        assert [r["gram"] for r in rows] == ["a b", "a c"]
        ab, ac = rows
        assert (ab["c_ab"], ab["c_a"], ab["c_b"]) == (2, 3, 2)
        assert (ac["c_ab"], ac["c_a"], ac["c_b"]) == (1, 3, 1)
        want = round(math.log(4.0), 6)
        assert ab["pmi"] == want and ac["pmi"] == want

    def test_min_count_prunes(self, spark):
        from med_doi_feature_extraction_spark.operators.corpus_stats import (
            pmi_collocations,
        )

        docs = spark.createDataFrame(
            [("a b",), ("a b",), ("a c",)], "text: string"
        )
        rows = pmi_collocations(docs, "text", min_count=2, k=10).collect()
        assert [r["gram"] for r in rows] == ["a b"]

    def test_blank_docs_ignored(self, spark):
        from med_doi_feature_extraction_spark.operators.corpus_stats import (
            pmi_collocations,
        )

        docs = spark.createDataFrame(
            [("a b",), ("a b",), ("   ",), ("",)], "text: string"
        )
        rows = pmi_collocations(docs, "text", min_count=1, k=10).collect()
        assert [r["gram"] for r in rows] == ["a b"]
        # blank docs contribute nothing: counts as if absent
        assert rows[0]["c_a"] == 2 and rows[0]["c_ab"] == 2


class TestTemperatureSampling:
    def _df(self, spark):
        # head lang 800 rows, mid 150, tail 50
        rows = [(i, "en") for i in range(800)]
        rows += [(1000 + i, "de") for i in range(150)]
        rows += [(2000 + i, "fi") for i in range(50)]
        return spark.createDataFrame(rows, "doc_id: long, lang: string")

    def test_alpha_one_is_proportional(self, spark):
        from med_doi_feature_extraction_spark.operators.sampling import (
            temperature_rates,
        )

        r = {
            x["group"]: x
            for x in temperature_rates(
                self._df(spark), "lang", alpha=1.0, target_rows=100
            ).collect()
        }
        assert r["en"]["q"] == 0.8 and r["fi"]["q"] == 0.05
        assert r["en"]["rate"] == r["de"]["rate"] == r["fi"]["rate"] == 0.1

    def test_alpha_zero_is_uniform_over_groups(self, spark):
        from med_doi_feature_extraction_spark.operators.sampling import (
            temperature_rates,
        )

        r = {
            x["group"]: x
            for x in temperature_rates(
                self._df(spark), "lang", alpha=0.0, target_rows=90
            ).collect()
        }
        for g in ("en", "de", "fi"):
            assert abs(r[g]["q"] - 1 / 3) < 1e-6
        # 30 expected rows per group: tail rate saturates? 30/50=0.6
        assert r["fi"]["rate"] == 0.6
        assert abs(r["en"]["rate"] - 30 / 800) < 1e-6

    def test_flattening_between(self, spark):
        """0<α<1 boosts the tail's share and shrinks the head's."""
        from med_doi_feature_extraction_spark.operators.sampling import (
            temperature_rates,
        )

        r = {
            x["group"]: x
            for x in temperature_rates(
                self._df(spark), "lang", alpha=0.3, target_rows=100
            ).collect()
        }
        assert r["fi"]["q"] > 0.05  # above population share
        assert r["en"]["q"] < 0.8  # below population share
        assert abs(sum(x["q"] for x in r.values()) - 1.0) < 1e-5

    def test_sample_deterministic_and_sized(self, spark):
        from med_doi_feature_extraction_spark.operators.sampling import (
            temperature_sample,
        )

        df = self._df(spark)
        a = sorted(
            r["doc_id"]
            for r in temperature_sample(
                df, "doc_id", "lang", alpha=0.3, target_rows=200
            ).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in temperature_sample(
                df, "doc_id", "lang", alpha=0.3, target_rows=200
            ).collect()
        )
        assert a == b  # pure function of (key, salt, rates)
        assert 150 <= len(a) <= 250  # expectation 200, binomial spread
        assert set(a) <= {r["doc_id"] for r in df.collect()}


def test_surt_key_forms(spark):
    from med_doi_feature_extraction_spark.operators.urls import surt_key

    df = spark.createDataFrame(
        [
            (1, "https://news.example.com/a/b"),
            (2, "http://www.example.com/"),
            (3, "https://Example.COM"),          # no path -> '/'
            (4, "https://user@sub.a.co.uk:443/x?q=1"),
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["s"]
        for r in df.select("id", surt_key(F.col("url")).alias("s")).collect()
    }
    assert got[1] == "com,example,news)/a/b"
    assert got[2] == "com,example)/"           # www stripped
    assert got[3] == "com,example)/"           # lower + default path
    assert got[4] == "uk,co,a,sub)/x"          # userinfo/port/query gone


def test_surt_key_sort_clusters_domains(spark):
    from med_doi_feature_extraction_spark.operators.urls import surt_key

    urls = [
        "https://a.zzz.org/1", "https://b.aaa.com/1",
        "https://c.aaa.com/1", "https://aaa.com/2",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    ordered = [
        r["s"]
        for r in df.select(surt_key(F.col("url")).alias("s"))
        .orderBy("s")
        .collect()
    ]
    # all aaa.com variants are adjacent under the sort
    assert ordered[0].startswith("com,aaa") and ordered[2].startswith(
        "com,aaa"
    )
    assert ordered[3].startswith("org,zzz")


def test_effective_sample_size(spark):
    from med_doi_feature_extraction_spark.operators.sampling import (
        effective_sample_size,
    )

    rows = (
        [("uni", 1.0)] * 8                     # uniform -> ESS = n
        + [("deg", 100.0)] + [("deg", 1e-6)] * 7   # one giant weight
        + [("mix", 2.0), ("mix", 2.0), ("mix", 0.0), ("mix", -1.0)]
    )
    df = spark.createDataFrame(rows, "g string, w double")
    got = {
        r["group"]: r
        for r in effective_sample_size(df, "w", group_col="g").collect()
    }
    assert got["uni"]["n"] == 8 and got["uni"]["ess"] == 8.0
    assert got["uni"]["ess_ratio"] == 1.0
    assert got["deg"]["ess_ratio"] < 0.2  # degenerate weights flagged
    # zero/negative weights carry no mass: n=2 uniform -> ESS=2
    assert got["mix"]["n"] == 2 and got["mix"]["ess"] == 2.0


def test_effective_sample_size_keeps_zero_mass_groups(spark):
    from med_doi_feature_extraction_spark.operators.sampling import (
        effective_sample_size,
    )

    df = spark.createDataFrame(
        [("dead", 0.0), ("dead", -1.0), ("live", 1.0)],
        "g string, w double",
    )
    got = {
        r["group"]: r
        for r in effective_sample_size(df, "w", group_col="g").collect()
    }
    # the MOST degenerate group must not vanish from the report
    assert got["dead"]["n"] == 0 and got["dead"]["ess"] is None
    assert got["dead"]["ess_ratio"] is None
    assert got["live"]["n"] == 1 and got["live"]["ess"] == 1.0
