"""Repetition-based quality filters (Gopher-rule family) for
training-corpus curation.

Web text that repeats itself — boilerplate nav lines, templated
listings, crawler traps — is low-value training data. Three standard
signals, all deterministic and SQL-reproducible (oracle-checkable):

- ``dup_unit_fraction``: fraction of text units (lines by default)
  that are repeats of an earlier unit.
- ``dup_unit_char_fraction``: fraction of characters sitting in
  those repeated occurrences (a doc of many short unique lines and
  one huge duplicated block scores high here, low above).
- ``top_ngram_stats``: the document's most frequent word n-gram and
  the fraction of characters it covers (count × gram length ÷ doc
  length) — catches phrase-level loops that line-dedup misses.

Scale shape: the two fractions are pure Column algebra over split
arrays (no UDF, no shuffle — they ride the scan stage of whatever
plan they're added to). ``top_ngram_stats`` is relational
(explode → two-level aggregate): ONE exchange on (id, gram) with
map-side partial counts, then a per-doc max — the shape that holds
at 10^12 docs because gram counting never leaves the document's
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.dedup import ngrams_all_col
from med_doi_feature_extraction_spark.session import spread


DEFAULT_LINE_DELIM = r"\r?\n"


def _units(text_col: str, delim: str) -> F.Column:
    """Non-empty trimmed units of the text split on ``delim``. The
    default delimiter eats the ``\\r`` of CRLF line endings — split on
    ``\\n`` alone and every Windows/web line keeps a trailing ``\\r``
    that F.trim (spaces only) won't remove, so identical lines would
    never match."""
    split = F.split(F.col(text_col), delim)
    trimmed = F.transform(split, lambda u: F.trim(u))
    return F.filter(trimmed, lambda u: F.length(u) > 0)


def _chars(units: F.Column) -> F.Column:
    return F.aggregate(
        units, F.lit(0).cast("long"), lambda acc, u: acc + F.length(u)
    )


def dup_unit_fraction(text_col: str, delim: str = DEFAULT_LINE_DELIM) -> F.Column:
    """Fraction of units that are repeat occurrences (occurrences
    beyond each unit's first). 0.0 for texts with no units."""
    units = _units(text_col, delim)
    n = F.size(units)
    dups = n - F.size(F.array_distinct(units))
    return F.when(
        n > 0, F.round(dups.cast("double") / n.cast("double"), 6)
    ).otherwise(F.lit(0.0))


def dup_unit_char_fraction(text_col: str, delim: str = DEFAULT_LINE_DELIM) -> F.Column:
    """Fraction of unit characters inside repeat occurrences
    (total unit chars minus chars of one copy of each distinct
    unit, over total unit chars)."""
    units = _units(text_col, delim)
    total = _chars(units)
    distinct = _chars(F.array_distinct(units))
    return F.when(
        total > 0,
        F.round(
            (total - distinct).cast("double") / total.cast("double"), 6
        ),
    ).otherwise(F.lit(0.0))


def repetition_features(
    df: DataFrame, text_col: str, delim: str = DEFAULT_LINE_DELIM
) -> DataFrame:
    """Add ``dup_unit_frac`` / ``dup_unit_char_frac`` columns. With
    the default delimiter these are the dup-line Gopher rules; pass
    ``delim=r"\\s+"`` for token-level repetition on unstructured
    text."""
    return df.withColumns(
        {
            "dup_unit_frac": dup_unit_fraction(text_col, delim),
            "dup_unit_char_frac": dup_unit_char_fraction(text_col, delim),
        }
    )


def top_ngram_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per document: most frequent word n-gram, its occurrence count,
    and the fraction of the normalized text's characters it covers
    (count × gram chars ÷ text chars). Ties break to the
    lexicographically smallest gram (deterministic). Documents with
    no n-gram (fewer than n tokens) are omitted.

    Plan: explode all grams → groupBy(id, gram) count (partial
    map-side combine) → per-id max via window rank — two exchanges
    total, both on id-prefixed keys, no data-dependent blowup.
    """
    # spread: gram generation dominates; fan a small scan out first
    # (no-op at corpus scale; measured 1.87→0.76 s at sf0.1.
    # tfidf_topk deliberately does NOT spread — its explode feeds a
    # groupBy that redistributes anyway and the extra exchange
    # measured slower, 0.80→1.27 s)
    grams = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.length(F.lower(F.trim(F.col(text_col)))).alias("_text_chars"),
        F.explode(ngrams_all_col(text_col, n)).alias("gram"),
    )
    counts = grams.groupBy(id_col, "_text_chars", "gram").agg(
        F.count(F.lit(1)).alias("gram_count")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("gram_count").desc(), F.col("gram").asc()
    )
    top = counts.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    frac = F.when(
        F.col("_text_chars") > 0,
        F.round(
            (F.col("gram_count") * F.length("gram")).cast("double")
            / F.col("_text_chars").cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return top.select(
        id_col,
        F.col("gram").alias("top_ngram"),
        "gram_count",
        frac.alias("top_ngram_char_frac"),
    )
