"""Paragraph-level corpus deduplication.

Whole-document dedup misses the dominant duplication mode in web
text: the SAME boilerplate paragraphs (nav blocks, cookie notices,
footers, licence blurbs) repeated across millions of otherwise
distinct pages. The standard fix dedups at paragraph granularity
corpus-wide: every paragraph occurrence except the FIRST (by
document id, then position) is dropped, and documents are rebuilt
from their surviving paragraphs in original order.

Determinism: the keeper of a duplicated paragraph is the occurrence
with the smallest (doc_id, paragraph index) — stable across runs and
partitionings.

Scale shape: posexplode paragraphs (keys prefixed by doc id — no
skew), ONE exchange on the paragraph hash for the global first-
occurrence window, then ONE groupBy(doc_id) to reassemble. The
window partitions by the 64-bit ``xxhash64`` of the normalized
paragraph, so the shuffle key is 8 bytes, not the paragraph text —
and a boilerplate paragraph shared by 10^7 docs lands on one reducer
as a count, which min-aggregates; to keep even that bounded the
first-occurrence resolution is an aggregation (min of a (doc,idx)
struct), NOT a row_number window over all occurrences. The residual
skew point is the paras→firsts join on ``_h`` (a hot boilerplate
hash co-locates its occurrence rows on one reducer) — AQE skew-join
splitting handles it; exercised by
``tests/test_skew.py::test_paragraph_dedup_boilerplate_skew`` (one
paragraph = 1/3 of all occurrences, 3 shuffle partitions, exact
parity with an independent oracle).

Comparison is on the normalized form (trim + collapse inner
whitespace + lowercase — the dedup-tier normalization) while the
ORIGINAL paragraph text is what survives into the rebuilt document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.session import spread

DEFAULT_PARA_DELIM = r"\r?\n\s*\r?\n"


def _norm(col: F.Column) -> F.Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def paras_array(text_col: str, delim: str = DEFAULT_PARA_DELIM) -> F.Column:
    """Non-empty trimmed paragraphs of the text, in order — the ONE
    definition shared by the exploded stream and the paras_in totals
    (two copies could silently drift and report paras_kept >
    paras_in)."""
    return F.filter(
        F.transform(F.split(F.col(text_col), delim), lambda p: F.trim(p)),
        lambda p: F.length(p) > 0,
    )


def explode_paragraphs(
    df: DataFrame, id_col: str, text_col: str, delim: str = DEFAULT_PARA_DELIM
) -> DataFrame:
    """(id, para_idx, para) — non-empty trimmed paragraphs in document
    order."""
    return spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(paras_array(text_col, delim)).alias("para_idx", "para"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = DEFAULT_PARA_DELIM,
    min_occurrences: int = 2,
    rebuilt_col: str = "text_dedup",
    joiner: str = "\n\n",
) -> DataFrame:
    """Drop every non-first occurrence of paragraphs that appear at
    least ``min_occurrences`` times corpus-wide; rebuild each doc's
    text from the survivors in original order.

    Returns the input id column plus ``rebuilt_col``, ``paras_in``,
    ``paras_kept``. Documents whose every paragraph came from
    elsewhere collapse to an empty string (candidates for dropping —
    that decision is the caller's). ``min_occurrences`` above 2 keeps
    mildly-repeated paragraphs and drops only heavy boilerplate.
    """
    paras = explode_paragraphs(df, id_col, text_col, delim)
    paras = paras.withColumn("_h", F.xxhash64(_norm(F.col("para"))))
    # global first occurrence per normalized paragraph: min (doc, idx)
    # struct + total count — aggregation, not a full-occurrence window
    firsts = paras.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("para_idx").alias("i")))
        .alias("_first"),
        F.count(F.lit(1)).alias("_occ"),
    )
    keep = (
        paras.join(firsts, "_h")
        .filter(
            (F.col("_occ") < F.lit(min_occurrences))
            | (
                (F.col("_first.d") == F.col(id_col))
                & (F.col("_first.i") == F.col("para_idx"))
            )
        )
    )
    return _rebuild_docs(df, keep, id_col, text_col, delim, rebuilt_col, joiner)


def _rebuild_docs(
    df: DataFrame,
    keep: DataFrame,
    id_col: str,
    text_col: str,
    delim: str,
    rebuilt_col: str,
    joiner: str,
) -> DataFrame:
    """Reassemble documents from surviving (id, para_idx, para) rows in
    original order, attaching scan-side ``paras_in`` totals (shared by
    the dedup and boilerplate-strip paths)."""
    rebuilt = keep.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("para_idx").alias("i"), F.col("para").alias("p"))
                    )
                ),
                lambda s: s.getField("p"),
            ),
            joiner,
        ).alias(rebuilt_col),
        F.count(F.lit(1)).alias("paras_kept"),
    )
    # totals are scan-stage Column algebra on the base table — no
    # second explode/shuffle
    paras_arr = paras_array(text_col, delim)
    base = df.select(
        F.col(id_col),
        # size(NULL) is -1 under the default legacy sizeOfNull conf —
        # greatest(0, ·) covers both the NULL-text and empty cases
        F.greatest(F.lit(0), F.size(paras_arr)).alias("paras_in"),
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(rebuilt_col, F.lit("")).alias(rebuilt_col),
        "paras_in",
        F.coalesce("paras_kept", F.lit(0)).alias("paras_kept"),
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_doc_frequency: int = 10,
    delim: str = DEFAULT_PARA_DELIM,
    rebuilt_col: str = "text_clean",
    joiner: str = "\n\n",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Remove EVERY occurrence of paragraphs appearing in at least
    ``min_doc_frequency`` DISTINCT documents — the CCNet-style
    boilerplate filter (nav blocks, cookie banners, footers).

    Complements ``paragraph_dedup``: dedup keeps the FIRST occurrence
    (the content is worth one copy), boilerplate-strip keeps NONE (the
    content is noise in every copy). Same output shape: id,
    ``rebuilt_col``, ``paras_in``, ``paras_kept``.

    Scale shape: document frequency is an exact two-level aggregation
    on the 8-byte paragraph hash (distinct (hash, doc) partial-aggs
    away within-doc repeats, then a count per hash). The qualifying
    hot set has at most total_paragraphs / min_doc_frequency members
    — small by construction at any real threshold — so it BROADCASTS
    into a left-anti join and the exploded corpus stream never
    shuffles on the skewed hash at all (the skew the paras→firsts
    join in ``paragraph_dedup`` has to absorb with AQE simply never
    arises here). ``broadcast_hot=False`` falls back to a shuffle
    anti-join for degenerate thresholds.
    """
    paras = explode_paragraphs(df, id_col, text_col, delim).withColumn(
        "_h", F.xxhash64(_norm(F.col("para")))
    )
    docfreq = (
        paras.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    hot = docfreq.filter(F.col("_df") >= min_doc_frequency).select("_h")
    if broadcast_hot:
        hot = F.broadcast(hot)
    keep = paras.join(hot, "_h", "left_anti")
    return _rebuild_docs(df, keep, id_col, text_col, delim, rebuilt_col, joiner)
