"""Deduplication operators for web-scale training-data pipelines.

Five tiers, cheapest first:

- exact: sha256(normalized text) group-by — one shuffle on the hash.
- fingerprint: rolling-hash content identity (kernels.hashing).
- minhash + LSH: shingle → minhash signature (numpy pandas UDF) →
  band-hash → bucket self-join → candidate pairs → exact Jaccard
  verify. The self-join is on (band, band_hash) so complexity is
  per-bucket quadratic only within colliding buckets — the standard
  scale path for near-dup at 10^12 docs.
- simhash: 64-bit signature; candidates via 16-bit band blocking
  (docs within Hamming distance d share ≥1 of 4 bands for d ≤ 3);
  verified by exact Hamming distance.
- n-gram Jaccard: exact token-set Jaccard on given candidate pairs
  (JVM-side array ops; used standalone for small candidate sets or as
  the verify stage of LSH).

All signature computation is Arrow-batched numpy; all joins/gathers
are built-in DataFrame ops so Catalyst/AQE own the physical plan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from med_doi_feature_extraction_spark.kernels.hashing import (
    fingerprint64,
    minhash_signatures,
    simhash64,
)
from med_doi_feature_extraction_spark.session import spread

_sig_udf = F.pandas_udf(
    lambda s: minhash_signatures(s), T.ArrayType(T.LongType())
)
_simhash_udf = F.pandas_udf(lambda s: simhash64(s), T.LongType())
_fp_udf = F.pandas_udf(lambda s: fingerprint64(s), T.LongType())

# Hot-band guard: an LSH bucket shared by B docs yields B² candidate
# pairs — one boilerplate band over 10^7 docs is 10^14 pairs. Buckets
# above the cap are dropped: docs that big a bucket clusters are
# either degenerate (empty/boilerplate shingles — exactly what you
# don't want driving near-dup decisions) or still pair up through
# their other, more selective bands.
DEFAULT_MAX_BAND_BUCKET = 50_000


def _bucket_pairs(
    bands: DataFrame,
    keys: list[str],
    max_bucket: int | None,
    payload: str,
) -> DataFrame:
    """Bucketed pair generation WITHOUT a self-join: ONE exchange
    (groupBy the band keys) → collect the bucket's members → drop
    buckets above ``max_bucket`` (the cap is a free ``size()`` test on
    the collected array, not a second shuffle) → expand (i < j)
    combinations JVM-side with higher-order array functions. Compared
    to the classic ``a.join(b, keys)`` self-join this halves the
    exchanges AND evaluates the upstream signature UDF once instead of
    twice. Per-bucket work stays quadratic — that's the LSH contract —
    but bounded by the cap.

    ``payload``: struct column name carried per member (must contain
    ``id``); the output columns are ``a``/``b`` structs of it.

    Residual skew bound: a cap-sized bucket's C(B,2) pairs are emitted
    by ONE task (Generate output can't be split mid-row-group), but
    that's ~15 s of whole-stage-codegen at the 50k default cap
    (measured: 1.25e9 pairs) with O(B) memory — an acceptable
    straggler; the shuffle of those pairs into the downstream
    distinct/verify IS distributed across reducers.
    """
    grouped = bands.groupBy(*keys).agg(
        F.sort_array(F.collect_list(payload)).alias("_members")
    )
    grouped = grouped.filter(F.size("_members") >= 2)
    if max_bucket is not None:
        grouped = grouped.filter(F.size("_members") <= max_bucket)
    # A bytes-small bucket table (one row per bucket) is coalesced by
    # AQE to a handful of post-shuffle partitions, and the C(B,2)
    # Generate expansion below would run on those few tasks (measured:
    # 7.3M pairs generated by 4 of 32 cores). ``spread`` pins the
    # expansion at cluster parallelism for such a table and is a no-op
    # at corpus scale; pair-set output is partitioning-insensitive
    # (distinct + keyed downstream).
    grouped = spread(grouped)
    # STREAMED two-stage expansion: posexplode each member first, then
    # explode that member's suffix slice. Per-row state stays O(B) —
    # one member plus one suffix array — so a cap-sized bucket streams
    # its C(B,2) pairs through two pipelined Generate operators. (The
    # previous single-stage flatten/transform built the entire combos
    # array — ~1.25e9 structs at the 50k default cap — inside ONE row
    # before exploding: a guaranteed task OOM at exactly the bucket
    # size the cap declares acceptable.)
    exploded = grouped.select(
        "_members", F.posexplode("_members").alias("_i", "_a")
    )
    return exploded.select(
        F.col("_a").alias("a"),
        F.explode(
            F.slice("_members", F.col("_i") + 2, F.size("_members"))
        ).alias("b"),
    )


def candidate_pairs(
    banded: DataFrame,
    id_col: str,
    keys: list[str],
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
    carry: list[str] | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a flat banded frame
    (id + band key columns) — the engine-agnostic bucket-pairing stage
    shared by minhash and simhash (and SQL-reproducible: group by the
    band keys, pair within buckets). ``carry`` columns ride the member
    struct and come back as ``<col>_a``/``<col>_b`` (e.g. the simhash
    value for the Hamming verify — avoids re-joining the signature
    table)."""
    carry = carry or []
    member = F.struct(
        F.col(id_col).alias("id"), *[F.col(c).alias(c) for c in carry]
    )
    bands = banded.select(member.alias("m"), *keys)
    pairs = _bucket_pairs(bands, keys, max_bucket, "m")
    out = pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    )
    return out.filter(F.col("id_a") < F.col("id_b")).distinct()


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct normalized text: (text_hash, keep_id,
    dup_count). keep_id = min id (deterministic survivor).

    Normalization = trim + collapse whitespace + lowercase — identical
    to ``fingerprint64``'s, so the two tiers group exactly the same
    texts (pinned by the fingerprint/exact parity test)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        df.select(F.col(id_col), F.sha2(norm, 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def with_fingerprint(
    df: DataFrame, text_col: str, out: str = "fingerprint"
) -> DataFrame:
    """64-bit document fingerprint (dual polynomial rolling hash over
    normalized text — kernels.hashing.fingerprint64): cheap content
    identity for dedup keys and lineage."""
    return df.withColumn(out, _fp_udf(text_col))


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``exact_dedup``'s cheap cousin: an 8-byte fingerprint key
    instead of a 64-char sha256 hex string — ~8× smaller shuffle key
    at identical grouping semantics (both normalize trim + collapse
    whitespace + lowercase; collision odds ~2⁻⁶⁴ per pair, fine for
    dedup grouping — keep sha256 where auditability of the key
    matters)."""
    return (
        with_fingerprint(spread(df.select(id_col, text_col)), text_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def tokens_col(text_col: str) -> F.Column:
    """Whitespace token SET of lower(trim(text)) — the engine-portable
    tokenization of the Jaccard operators and their oracles (DuckDB
    twin: ``list_distinct(string_split_regex(lower(trim(x)), '\\s+'))``)."""
    return F.array_distinct(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    )


def ngrams_all_col(text_col: str, n: int = 2) -> F.Column:
    """ALL word n-gram strings of normalized text, in document order
    (duplicates kept — frequency-carrying variant for repetition
    stats). Pure JVM higher-order array ops: n aligned slices of the
    token array zipped into gram strings — no UDF, whole-stage
    codegen, linear in document length."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        return toks
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, width)
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, width),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    return grams


def ngrams_col(text_col: str, n: int = 2) -> F.Column:
    """Distinct word n-gram strings of normalized text — the n-gram
    generalization of ``tokens_col`` for Jaccard verify (n=1 ≡
    tokens_col)."""
    return F.array_distinct(ngrams_all_col(text_col, n))


def jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_tokens: str = "tokens_a",
    right_tokens: str = "tokens_b",
) -> DataFrame:
    """Exact token-set Jaccard for pre-paired rows (verify stage)."""
    joined = left.join(right, on)
    inter = F.size(F.array_intersect(left_tokens, right_tokens))
    union = (
        F.size(F.col(left_tokens)) + F.size(F.col(right_tokens)) - inter
    )
    return joined.withColumn(
        "jaccard",
        F.round(
            F.when(union > 0, inter.cast("double") / union.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ),
    )


def with_minhash(df: DataFrame, text_col: str, sig_col: str = "minhash_sig") -> DataFrame:
    return df.withColumn(sig_col, _sig_udf(text_col))


def minhash_bands(
    sigs: DataFrame,
    id_col: str,
    n_bands: int = 16,
    rows_per_band: int = 4,
    sig_col: str = "minhash_sig",
) -> DataFrame:
    """Flat banded frame (id, band, band_hash) from minhash signatures.
    band_hash = murmur3 of the band's signature rows. This is the
    SQL-checkable seam: once materialized, everything downstream
    (bucket pairing, Jaccard verify) is plain relational algebra."""
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            *[
                                F.element_at(sig_col, b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band", "bh.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    Signature length = n_bands × rows_per_band (must equal the minhash
    kernel's n_hashes=64 by default). Jaccard-threshold intuition:
    16 bands × 4 rows ⇒ s-curve midpoint ≈ (1/16)^(1/4) ≈ 0.5.
    Buckets above ``max_bucket`` are dropped before pair expansion
    (see ``DEFAULT_MAX_BAND_BUCKET``).
    """
    sigs = with_minhash(spread(df.select(id_col, text_col)), text_col)
    bands = minhash_bands(sigs, id_col, n_bands, rows_per_band)
    return candidate_pairs(bands, id_col, ["band", "band_hash"], max_bucket)


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Verified near-dup pairs: LSH candidates filtered by exact
    token-set Jaccard ≥ threshold."""
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n_bands, rows_per_band, max_bucket
    )
    toks = spread(df.select(F.col(id_col), tokens_col(text_col).alias("toks")))
    a = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("tokens_a"))
    b = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("tokens_b"))
    verified = jaccard_pairs(cands.join(a, "id_a"), b, ["id_b"])
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def with_simhash(df: DataFrame, text_col: str, out: str = "simhash") -> DataFrame:
    return df.withColumn(out, _simhash_udf(text_col))


def simhash_bands(
    sigs: DataFrame, id_col: str, sig_col: str = "simhash"
) -> DataFrame:
    """Flat banded frame (id, simhash, band, band_val): 4 × 16-bit
    bands of the 64-bit signature (pigeonhole: Hamming ≤ 3 ⇒ at least
    one band identical). SQL-reproducible: band_val is plain shift+mask
    two's-complement arithmetic."""
    return sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(sig_col, 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "simhash", "bh.band", "bh.band_val")


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Band → bucket-pair → exact-Hamming verify, starting from an
    already-signed frame (the oracle-checkable downstream half). The
    signature rides the member struct (8 bytes per band row) so the
    verify needs no re-join against the signature table."""
    bands = simhash_bands(sigs, id_col, sig_col)
    pairs = candidate_pairs(
        bands, id_col, ["band", "band_val"], max_bucket, carry=["simhash"]
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 × 16-bit bands, verify
    exact Hamming distance ≤ max_hamming JVM-side via bit_count(xor).
    Buckets above ``max_bucket`` are dropped before pair expansion."""
    sh = with_simhash(spread(df.select(id_col, text_col)), text_col)
    return simhash_pairs_from_sigs(sh, id_col, "simhash", max_hamming, max_bucket)


def dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over near-dup pairs (id_a, id_b) →
    (doc_id, cluster_id) with cluster_id = min doc id in the component.

    Min-label propagation WITH pointer jumping: each round every node
    adopts the smallest label among itself and its neighbors, then
    shortcuts to its label's label (path halving) — label distance
    roughly doubles per round, so convergence is O(log diameter)
    rounds instead of O(diameter) (a 1,000-link near-dup chain
    converges in ~10 rounds). Each round is three shuffles on ids;
    AQE handles the shrinking frontier. This is the operator that
    turns pairwise candidates into keep/remove decisions at corpus
    scale; not SQL-expressible (iteration), driver check is rows-only.

    A component whose convergence still exceeds max_iterations (would
    need diameter ≳ 2^max_iterations) must not come back silently
    SPLIT — ``on_nonconverged`` controls the guard: "raise" (default)
    or "warn".
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jump (path halving): label ← label's label, so the
        # min label travels 2^k hops after k rounds, not k
        parent = updated.select(
            F.col("id").alias("cluster_id"), F.col("cluster_id").alias("_cc2")
        )
        updated = (
            updated.join(parent, "cluster_id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("_cc2"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        updated = updated.localCheckpoint(eager=True)  # truncate lineage per round
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), "id")
            .filter(F.col("u.cluster_id") != F.col("l.cluster_id"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        msg = (
            f"dup_clusters did not converge within max_iterations="
            f"{max_iterations}; a component with larger diameter would "
            f"be returned split"
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


def dedup_decisions(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id, keep): cluster survivors are the min id per
    component; docs in no component keep themselves."""
    clusters = dup_clusters(pairs)
    out = df.select(F.col(id_col).alias("doc_id")).join(clusters, "doc_id", "left")
    out = out.withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    return out.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


def dedup_decisions_by(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    prefer: Sequence[Column | str],
) -> DataFrame:
    """(doc_id, cluster_id, keep): like :func:`dedup_decisions`, but the
    cluster survivor is chosen by an explicit preference order instead
    of min id — what production curation actually wants: when a dup
    group mixes a clean original with truncated mirrors, keep the
    HIGHEST-QUALITY member (``prefer=[F.desc("quality"), F.asc(id)]``),
    not the numerically smallest id.

    Always append the id (or another total order) as the last tiebreak
    — a tie on all ``prefer`` columns would otherwise make the
    survivor nondeterministic across runs/layouts; this function
    appends ``asc(id_col)`` itself as a safety net. One exchange on
    cluster_id for the rank window; dup clusters are near-dup-group
    sized, so the per-partition sort is bounded. cluster_id remains
    the min-id component label (stable under preference changes), only
    ``keep`` moves."""
    from pyspark.sql import Window

    clusters = dup_clusters(pairs)
    out = df.join(
        clusters, df[id_col] == clusters["doc_id"], "left"
    ).select(
        df["*"], F.coalesce("cluster_id", df[id_col]).alias("cluster_id")
    )
    order = [F.col(c) if isinstance(c, str) else c for c in prefer]
    w = Window.partitionBy("cluster_id").orderBy(*order, F.asc(id_col))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .select(
            F.col(id_col).alias("doc_id"),
            "cluster_id",
            (F.col("_rk") == 1).alias("keep"),
        )
    )


def incremental_band_candidates(
    new_bands: DataFrame,
    corpus_bands: DataFrame,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate (id_new, dup_of) pairs: a NEW doc's band collides with
    an EXISTING corpus band bucket. Inputs are flat banded frames
    (``minhash_bands`` output) with ids already aliased ``id_new`` /
    ``dup_of``.

    The hot-bucket cap is applied to the CORPUS side only: the corpus
    is the unbounded side at scale (10^12 docs accumulate boilerplate
    bands), while the incoming snapshot is the bounded one. A corpus
    bucket above ``max_bucket`` is dropped before the join — same
    boilerplate rationale as ``DEFAULT_MAX_BAND_BUCKET``, and it also
    bounds the join's per-key fan-out (a new doc hitting a capped
    bucket emits ≤ max_bucket candidate rows, streamed by the join,
    never collected).

    Scale shape: one partial-agg count over corpus bands (8-byte
    keys), one equi-join on (band, band_hash). In production the
    corpus band table is materialized once per snapshot and only the
    new side is computed per increment; the new side is typically
    ≪ corpus, so AQE converts the join to broadcast for free.
    """
    counts = corpus_bands.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("_n")
    )
    if max_bucket is not None:
        counts = counts.filter(F.col("_n") <= max_bucket)
    ok = corpus_bands.join(
        counts.select("band", "band_hash"), ["band", "band_hash"]
    )
    return (
        new_bands.join(ok, ["band", "band_hash"])
        .select("id_new", "dup_of")
        .distinct()
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Dedupe an INCOMING snapshot against an EXISTING corpus — the
    incremental form of ``minhash_dedup`` (reference parity: the
    skip-if-done resume of ``src/engine.py`` generalized from exact
    ids to near-duplicate content).

    For each new doc that near-duplicates (token-set Jaccard ≥
    ``threshold``) at least one corpus doc via an LSH band collision,
    emit ONE row ``(id_new, dup_of, jaccard)`` — the best match (max
    jaccard, ties → min corpus id). New docs with no verified match
    produce no row (they are the survivors an ingest keeps).

    Unlike a full-corpus self-dedup re-run, the corpus side here is
    touched only to band + tokenize (both materializable once per
    snapshot); candidate expansion is bounded per new doc by
    ``max_bucket`` on the corpus bucket size. No corpus×corpus pairs
    are ever generated.
    """
    new_sel = spread(new_df.select(id_col, text_col))
    sigs_new = with_minhash(new_sel, text_col)
    bands_new = minhash_bands(sigs_new, id_col, n_bands, rows_per_band).select(
        F.col(id_col).alias("id_new"), "band", "band_hash"
    )
    # spread BOTH signature stages: a narrow parquet scan plans at
    # row-group parallelism, which would serialize the corpus-side
    # numpy kernel on a handful of tasks (measured 2.3x on the bench)
    sigs_corp = with_minhash(
        spread(corpus_df.select(id_col, text_col)), text_col
    )
    bands_corp = minhash_bands(sigs_corp, id_col, n_bands, rows_per_band).select(
        F.col(id_col).alias("dup_of"), "band", "band_hash"
    )
    cands = incremental_band_candidates(bands_new, bands_corp, max_bucket)
    toks_new = new_df.select(
        F.col(id_col).alias("id_new"), tokens_col(text_col).alias("tokens_a")
    )
    toks_corp = corpus_df.select(
        F.col(id_col).alias("dup_of"), tokens_col(text_col).alias("tokens_b")
    )
    verified = jaccard_pairs(cands.join(toks_new, "id_new"), toks_corp, ["dup_of"])
    verified = verified.filter(F.col("jaccard") >= threshold)
    from pyspark.sql import Window

    w = Window.partitionBy("id_new").orderBy(
        F.col("jaccard").desc(), F.col("dup_of").asc()
    )
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id_new", "dup_of", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Asymmetric containment near-dup: pairs where the smaller
    document's token set lies (mostly) inside the larger's —
    quote-extraction pages, syndication wrappers, list-of-excerpts
    pages that symmetric Jaccard misses because the size imbalance
    drags J down while containment stays ~1.

    ``containment = |A∩B| / min(|A|,|B|)``; returns
    ``(id_a, id_b, containment, contained_id)`` for pairs at or above
    ``threshold`` (``contained_id`` = the smaller set's id, ties →
    ``id_a``). Candidates come from the SAME minhash-LSH banding as
    ``minhash_dedup`` — exact verify on whatever surfaces, with the
    documented recall caveat that Jaccard banding under-recalls
    extreme size ratios (J = c·min/(|A|+|B|−c·min)); for a dedicated
    containment index, band the small side's shingles only (future
    work), or lower the LSH threshold via more bands.
    """
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n_bands, rows_per_band, max_bucket
    )
    toks = spread(df.select(F.col(id_col), tokens_col(text_col).alias("toks")))
    a = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("tokens_a"))
    b = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("tokens_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("tokens_a", "tokens_b"))
    min_sz = F.least(F.size("tokens_a"), F.size("tokens_b"))
    out = joined.select(
        "id_a",
        "id_b",
        F.round(
            F.when(min_sz > 0, inter.cast("double") / min_sz.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("containment"),
        F.when(
            F.size("tokens_a") <= F.size("tokens_b"), F.col("id_a")
        ).otherwise(F.col("id_b")).alias("contained_id"),
    )
    return out.filter(F.col("containment") >= threshold)


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT containment self-join via prefix filtering (the
    PPJoin-family guarantee) — the answer to ``containment_pairs``'s
    LSH recall caveat, at the cost of an inverted-index join.

    For every ordered pair emit ``(contained_id, container_id,
    containment)`` where ``containment = |A∩B| / |A| >= threshold``
    (A = contained side's token set; A==B-sized ties produce both
    directions). Exactness: if at most ``(1-t)·|A|`` of A's tokens
    can be outside B, then A's rare-first prefix of size
    ``floor((1-t)·|A|) + 1`` must contain at least one token of B —
    so joining PREFIX tokens against the full token index has no
    false negatives, for ANY token ordering. Ordering by ascending
    document frequency just makes the joined tokens the RARE ones,
    which is what keeps posting sizes (and hence candidates) small
    under Zipf.

    Scale shape: one explode + df count (partial agg), one window to
    rank tokens per doc (keys prefixed by doc id — no skew), one
    equi-join prefix→postings on the token (rare-first keys; a
    boilerplate-only doc is the worst case — optional ``max_df``
    drops prefix tokens above the cap, trading bounded recall for a
    bounded join exactly like the LSH band cap), one distinct, and a
    broadcast-friendly verify on the token arrays.
    """
    from pyspark.sql import Window

    toks = (
        df.select(F.col(id_col).alias("_id"), F.explode(tokens_col(text_col)).alias("token"))
        .filter(F.length("token") > 0)
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_df"))
    sizes = toks.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("token").asc())
    ranked = (
        toks.join(dfreq, "token")
        .withColumn("_rank", F.row_number().over(w))
        .join(sizes, "_id")
    )
    # +1e-9 guards binary-float representation: (1-0.8)*35 evaluates
    # to 6.999…98 in IEEE doubles and floor() would shave the prefix
    # one token short of the exactness bound (= silent false
    # negatives — caught by the DuckDB oracle, whose decimal 0.2*35
    # is exactly 7). The epsilon can only ENLARGE the prefix, which
    # never loses pairs.
    prefix_sz = F.floor((1.0 - threshold) * F.col("_n") + F.lit(1e-9)) + 1
    pref = ranked.filter(F.col("_rank") <= prefix_sz)
    if max_df is not None:
        pref = pref.filter(F.col("_df") <= max_df)
    cands = (
        pref.select(F.col("_id").alias("contained_id"), "token")
        .join(toks.select(F.col("_id").alias("container_id"), "token"), "token")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    arrs = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    a = arrs.select(F.col(id_col).alias("contained_id"), F.col("_toks").alias("_ta"))
    b = arrs.select(F.col(id_col).alias("container_id"), F.col("_toks").alias("_tb"))
    joined = cands.join(a, "contained_id").join(b, "container_id")
    inter = F.size(F.array_intersect("_ta", "_tb"))
    out = joined.select(
        "contained_id",
        "container_id",
        F.round(
            F.when(F.size("_ta") > 0, inter.cast("double") / F.size("_ta").cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("containment"),
    )
    return out.filter(F.col("containment") >= threshold)
