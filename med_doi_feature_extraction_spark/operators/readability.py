"""Readability + lexical-diversity battery for web-text curation.

Classic prose-shape signals that every corpus-quality stack computes
next to the Gopher/C4 batteries (``operators/gopher.py``,
``operators/c4rules.py``): Flesch reading ease / Flesch–Kincaid grade
(Kincaid 1975), type–token ratio, mean word length and long-word
fraction. FineWeb-Edu-style quality classifiers consume exactly these
as features; the reference repo has no analogue (its records are
already-clean metadata — this is part of the web-scale surface this
engine adds, same disposition as gopher.py).

Definitions are fixed so both engines agree exactly:

- **words** = maximal ``[A-Za-z]+`` runs (regexp token extraction);
- **sentences** = maximal ``[.!?]+`` runs, floored at 1;
- **syllables(word)** = ``max(1, vowel-group runs [aeiouy]+)`` in the
  lowercased word — the standard heuristic without the silent-e
  correction (a fixed convention beats a "better" one that the two
  engines would round differently);
- Flesch reading ease = ``206.835 − 1.015·(W/S) − 84.6·(Y/W)``;
- Flesch–Kincaid grade = ``0.39·(W/S) + 11.8·(Y/W) − 15.59``;
- type–token ratio = distinct lowercased words / words.

Execution shape: ONE codegen span over the scan — the word array is
computed once (same discipline as gopher.py) and every statistic is
array algebra over it; no shuffle, no UDF, no Python, column pruning
keeps the scan at exactly the text column. At 100 TB this is a
zero-shuffle scan-stage annotation.

Numeric convention: every ratio/score rounded to 4 dp — but NOT via
each engine's ``round()``: the Flesch constants (206.835, 1.015,
84.6) times small integer ratios (W/S = 1.25, Y/W = 1.8, ...) land
exactly on ``x.xxxx5`` boundaries routinely, where Spark's
BigDecimal-HALF_UP and DuckDB's float rounding disagree on the same
double. Both engines (and the pytest reference) therefore use the
identical IEEE sequence ``sign · floor(|x|·10⁴ + 0.5) / 10⁴``
(:mod:`~med_doi_feature_extraction_spark.kernels.fixed` at scale
10⁴; the sign is applied to the integer count, so no ``-0.0``
arises) — boundary or not, the three implementations compute the
same double. The gate compares the
ROUNDED values so both engines commit to the same verdict.
Empty/NULL text yields all-zero counts, NULL scores, and
``readable = false`` (no prose evidence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql

_WORD = "[A-Za-z]+"
_SENT = "[.!?]+"
_VOWELS = "[aeiouy]+"

#: Overridable gate bounds (checked on the 4-dp-rounded values).
DEFAULT_BOUNDS = {
    "min_words": 20,
    "min_flesch": 30.0,   # below ~30 = "very confusing" tier
    "max_fk_grade": 16.0,  # beyond college-graduate grade
    "min_ttr": 0.2,        # template/spam pages repeat their vocab
}


def readability_features(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append per-doc readability statistics:

    ``n_words, n_sentences, n_syllables, words_per_sentence,
    syllables_per_word, mean_word_len, long_word_frac`` (≥7 chars),
    ``type_token_ratio, flesch, fk_grade`` — ratios/scores 4 dp,
    NULL when ``n_words = 0``.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    # Whole-text regex counts instead of per-word higher-order
    # aggregates: the HOF lambdas are CodegenFallback (interpreted per
    # element) and each output column re-derived the word array, so
    # the battery paid many interpreted passes per row. Equivalences
    # (words are maximal ASCII [A-Za-z]+ runs, so every identity below
    # is a per-word ⇄ whole-text rewrite across non-letter boundaries):
    #  - n_words      = count of [A-Za-z]+ runs;
    #  - Σ len(w)     = count of [A-Za-z] chars;
    #  - Σ max(1, vowel-runs(lower w))
    #                 = (vowel runs, case-insensitive) + (# all-consonant
    #                   words): a vowel run cannot span a word boundary
    #                   (the boundary char is a non-letter), and a word
    #                   contributes the +1 floor iff it has no vowel at
    #                   all. (?i) on the RAW text, never lower(text):
    #                   Unicode lowering can mint new ASCII letters
    #                   (e.g. Kelvin sign → 'k') and change the word
    #                   decomposition; per-word lower() only ever saw
    #                   pure-ASCII input.
    #  - long words   = maximal runs of length ≥ 7 via lookarounds.
    # Only the type-token ratio still needs the array (distinct set).
    words = F.regexp_extract_all(t, F.lit(_WORD), 0)
    n_words = F.regexp_count(t, F.lit(_WORD)).cast("long")
    n_sent = F.greatest(
        F.regexp_count(t, F.lit(_SENT)), F.lit(1)
    ).cast("long")
    n_syll = (
        F.regexp_count(t, F.lit("(?i)" + _VOWELS))
        + F.regexp_count(
            t, F.lit(r"(?i)(?<![a-z])[b-df-hj-np-tv-xz]+(?![a-z])")
        )
    ).cast("long")
    wc = n_words.cast("double")
    wps = wc / n_sent.cast("double")
    spw = n_syll.cast("double") / wc
    total_len = F.regexp_count(t, F.lit("[A-Za-z]")).cast("long")
    long_words = F.regexp_count(
        t, F.lit(r"(?<![A-Za-z])[A-Za-z]{7,}(?![A-Za-z])")
    )
    ttr = (
        F.size(F.array_distinct(F.transform(words, F.lower))).cast("double")
        / wc
    )
    has = n_words > 0
    null_d = F.lit(None).cast("double")
    return df.select(
        "*",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        *[
            F.when(has, fixed(x, 1e4) / 1e4).otherwise(null_d).alias(name)
            for name, x in [
                ("words_per_sentence", wps),
                ("syllables_per_word", spw),
                ("mean_word_len", total_len.cast("double") / wc),
                ("long_word_frac", long_words.cast("double") / wc),
                ("type_token_ratio", ttr),
                ("flesch", F.lit(206.835) - 1.015 * wps - 84.6 * spw),
                ("fk_grade", 0.39 * wps + 11.8 * spw - F.lit(15.59)),
            ]
        ],
    )


def readability_gate(
    df: DataFrame, text_col: str = "text", **bounds
) -> DataFrame:
    """:func:`readability_features` plus a ``readable`` verdict on the
    rounded statistics (bounds overridable, :data:`DEFAULT_BOUNDS`).
    Docs with no words fail (no prose evidence)."""
    b = {**DEFAULT_BOUNDS, **bounds}
    out = readability_features(df, text_col)
    return out.withColumn(
        "readable",
        (F.col("n_words") >= b["min_words"])
        & (F.col("flesch") >= b["min_flesch"])
        & (F.col("fk_grade") <= b["max_fk_grade"])
        & (F.col("type_token_ratio") >= b["min_ttr"]),
    ).withColumn("readable", F.coalesce(F.col("readable"), F.lit(False)))


# --- DuckDB twin ------------------------------------------------------

def oracle_readability_sql(text_expr: str, **bounds) -> dict[str, str]:
    """Expression map mirroring :func:`readability_gate`, generated
    from the same constants so the patterns can't drift."""
    b = {**DEFAULT_BOUNDS, **bounds}
    t = f"coalesce({text_expr}, '')"
    words = f"regexp_extract_all({t}, '{_WORD}')"
    n_words = f"len({words})"
    n_sent = f"greatest(len(regexp_extract_all({t}, '{_SENT}')), 1)"
    n_syll = (
        f"coalesce(list_sum(list_transform({words}, w -> greatest("
        f"len(regexp_extract_all(lower(w), '{_VOWELS}')), 1))), 0)"
    )
    wc = f"({n_words})::DOUBLE"
    wps = f"({wc} / ({n_sent}))"
    spw = f"(({n_syll})::DOUBLE / {wc})"
    total_len = (
        f"coalesce(list_sum(list_transform({words}, w -> length(w))), 0)"
    )
    long_words = f"len(list_filter({words}, w -> length(w) >= 7))"
    ttr = (
        f"(len(list_distinct(list_transform({words}, w -> lower(w))))"
        f"::DOUBLE / {wc})"
    )

    def guarded(expr: str) -> str:
        return (
            f"CASE WHEN ({n_words}) > 0 THEN {fixed_sql(expr, 1e4)}"
            f" / 10000.0 ELSE NULL END"
        )

    stats = {
        "n_words": f"CAST({n_words} AS BIGINT)",
        "n_sentences": f"CAST({n_sent} AS BIGINT)",
        "n_syllables": f"CAST({n_syll} AS BIGINT)",
        "words_per_sentence": guarded(wps),
        "syllables_per_word": guarded(spw),
        "mean_word_len": guarded(f"({total_len})::DOUBLE / {wc}"),
        "long_word_frac": guarded(f"({long_words})::DOUBLE / {wc}"),
        "type_token_ratio": guarded(ttr),
        "flesch": guarded(f"206.835 - 1.015 * {wps} - 84.6 * {spw}"),
        "fk_grade": guarded(f"0.39 * {wps} + 11.8 * {spw} - 15.59"),
    }
    stats["readable"] = (
        f"coalesce({stats['n_words']} >= {b['min_words']}"
        f" AND {stats['flesch']} >= {b['min_flesch']}"
        f" AND {stats['fk_grade']} <= {b['max_fk_grade']}"
        f" AND {stats['type_token_ratio']} >= {b['min_ttr']}, FALSE)"
    )
    return stats
