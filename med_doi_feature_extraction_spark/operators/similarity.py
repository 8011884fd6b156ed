"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — broadcast the (small)
  query set against the corpus; dot product / norms via built-in
  higher-order array functions (zip_with + aggregate, JVM-side,
  no Python). The correctness baseline.
- ``lsh_topk``: random-hyperplane LSH bucketed ANN — the scale path.
  Sign-bit bucketing via a seeded projection (numpy pandas UDF),
  candidates restricted to same-bucket (multi-probe: exact bucket +
  Hamming-1 neighbors), then exact cosine within candidates. Recall
  < 1.0 by design; the bench reports recall@k vs brute force.
- ``ivf_topk``: IVF-bucketed ANN — the second scale path. A seeded
  spherical k-means coarse quantizer (bounded driver-side sample)
  assigns every corpus vector to its nearest centroid's cell; queries
  probe their ``nprobe`` nearest cells. Index build (one bounded job)
  is explicitly split from query planning (zero jobs).
- ``embedding_near_dup``: pairs with cosine ≥ threshold, blocked by
  LSH bucket.

At 10^12-doc scale the broadcast side must stay small (queries or
centroids); the corpus is never collected or replicated.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIM_VERSION = "1.0.0"


def _dot(a, b):  # Column helpers
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_col(a, b):
    denom = _norm(a) * _norm(b)
    return F.when(denom > 0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared tail of every top-k search: rank candidates on unrounded
    cosine (deterministic neighbor_id tiebreak), keep top-k, round for
    output. ``hard_negatives`` ranks on the rounded cosine instead, so
    it keeps its own tail."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id).

    Output: (query_id, neighbor_id, cosine, rank). Query side is
    broadcast — it must be small (typical: a probe/eval set).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k)


def _projection_udf(n_bits: int, seed: int, dim: int | None = None):
    """Sign-bit random-hyperplane bucketing. The plane matrix is
    generated lazily INSIDE the udf from the first Arrow batch's
    vector width (deterministic per seed) — plan construction must
    launch zero Spark jobs (no driver-side ``.first()`` scan)."""
    state: dict = {}

    @F.pandas_udf(T.IntegerType())
    def bucket_of(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], index=vecs.index, dtype=np.int32)
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        planes = state.get("planes")
        if planes is None or planes.shape[0] != mat.shape[1]:
            d = dim if dim is not None else mat.shape[1]
            planes = np.random.default_rng(seed).standard_normal((d, n_bits))
            state["planes"] = planes
        bits = (mat @ planes) > 0  # (batch, n_bits)
        weights = (1 << np.arange(n_bits)).astype(np.int64)
        return pd.Series((bits @ weights).astype(np.int32), index=vecs.index)

    return bucket_of


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    n_bits: int = 8,
    seed: int = 42,
    out: str = "lsh_bucket",
) -> DataFrame:
    """``dim`` is optional and only a cross-check: when None the udf
    infers it from the data. Never runs a job at plan time."""
    return df.withColumn(out, _projection_udf(n_bits, seed, dim)(vec_col))


def lsh_topk_from_buckets(
    c: DataFrame,
    q: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Candidate join + exact-cosine rank from ALREADY-bucketed frames:
    ``c`` = (neighbor_id, _cv, _b0.._b{n_tables-1}), ``q`` likewise
    with query_id/_qv. This is the oracle-checkable downstream half —
    a candidate is any corpus row whose bucket is within Hamming ≤ 1
    of the query's bucket in ≥ 1 table (multiprobe) or identical
    (exact) — and the scale half of ``lsh_topk``, which assigns the
    buckets and delegates here."""

    def melt(df: DataFrame, probe: bool) -> DataFrame:
        entries = []
        for t in range(n_tables):
            buckets = [F.col(f"_b{t}")]
            if probe:
                buckets += [
                    F.col(f"_b{t}").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)
                ]
            entries += [
                F.struct(F.lit(t).alias("tbl"), b.alias("bkt")) for b in buckets
            ]
        return df.withColumn("_tb", F.explode(F.array(*entries))).select(
            *[col for col in df.columns if not col.startswith("_b")],
            F.col("_tb.tbl").alias("_tbl"),
            F.col("_tb.bkt").alias("_bkt"),
        )

    cands = (
        melt(c.select("neighbor_id", *[f"_b{t}" for t in range(n_tables)]), False)
        .join(
            F.broadcast(
                melt(q.select("query_id", *[f"_b{t}" for t in range(n_tables)]), multiprobe)
            ),
            ["_tbl", "_bkt"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = (
        cands.join(F.broadcast(q.select("query_id", "_qv")), "query_id")
        .join(c.select("neighbor_id", "_cv"), "neighbor_id")
        .withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket in at
    least one of ``n_tables`` independent hash tables (multiprobe adds
    Hamming-1 neighbor buckets on the query side). Same output schema
    as ``cosine_topk`` → recall@k is directly measurable; recall rises
    with n_tables at the cost of candidate volume."""
    # not spread: a round-robin exchange before the bucket UDF measured
    # slower than the single-task UDF (sf0.1, 4 cores: median 0.91→1.02 s)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    for t in range(n_tables):
        c = with_lsh_bucket(c, "_cv", None, n_bits, seed + t, out=f"_b{t}")
        q = with_lsh_bucket(q, "_qv", None, n_bits, seed + t, out=f"_b{t}")
    return lsh_topk_from_buckets(c, q, k, n_bits, n_tables, multiprobe)


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 8,
    seed: int = 42,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine ≥ threshold, LSH-blocked so the
    pairwise work is per-bucket, not global. Buckets larger than
    ``max_bucket`` are dropped (quadratic bomb guard — a degenerate
    bucket of zero/constant vectors at corpus scale would otherwise
    dominate the join); at 10^12 docs raise n_bits instead of the cap."""
    b = with_lsh_bucket(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_v", None, n_bits, seed,
    )
    if max_bucket is not None:
        w = Window.partitionBy("lsh_bucket")
        b = (
            b.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = b.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "lsh_bucket"
    )
    bb = b.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "lsh_bucket"
    )
    return (
        a.join(bb, "lsh_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_col(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 64,
    n_iters: int = 5,
    sample_size: int = 20_000,
    seed: int = 42,
) -> np.ndarray:
    """IVF coarse quantizer — the index-BUILD step (runs ONE bounded
    Spark job by design; this is an explicit action like writing an
    index, not plan construction — query-side ``ivf_topk`` with
    pre-trained centroids launches zero jobs at plan time).

    Sample = plain ``limit(sample_size)`` over (id, vec): Spark's
    incremental GlobalLimit reads only as many partitions as needed —
    NOT a full-corpus TakeOrdered scan (the previous ``orderBy(id).
    limit(n)`` touched every partition of a 10^12-row table to find
    the globally-first n ids). Deterministic per table layout (limit
    drains partitions in order); the sampled rows are then sorted by
    id driver-side so k-means sees an order-stable matrix, and the
    k-means itself is seeded. The sample stays bounded no matter the
    corpus size; centroids (K×dim float64) ship to executors inside
    the assignment UDF closure."""
    rows = (
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .limit(sample_size)
        .toPandas()
        .sort_values("_id", kind="stable")
    )
    X = np.stack(rows["_v"].to_numpy()).astype(np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(Xn))
    cent = Xn[rng.choice(len(Xn), size=k, replace=False)].copy()
    for _ in range(n_iters):
        assign = (Xn @ cent.T).argmax(axis=1)
        for j in range(k):
            pts = Xn[assign == j]
            if len(pts):
                m = pts.mean(axis=0)
                cent[j] = m / max(float(np.linalg.norm(m)), 1e-12)
    return cent


def _ivf_cells_udf(centroids: np.ndarray, nprobe: int):
    """vec → top-``nprobe`` nearest centroid ids (cosine, stable ties
    by centroid id). Centroids ride the UDF closure — broadcast once
    per worker, no per-row Python."""
    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells_of(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], index=vecs.index, dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cent.T  # (batch, K)
        p = min(nprobe, sims.shape[1])
        # argsort (not argpartition): deterministic ascending-id tie
        # order; K is small so the full sort is cheap
        top = np.argsort(-sims, axis=1, kind="stable")[:, :p].astype(np.int32)
        return pd.Series(list(top), index=vecs.index, dtype=object)

    return cells_of


def with_ivf_cell(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out: str = "ivf_cell",
) -> DataFrame:
    """Assign each vector to its single nearest centroid (the IVF
    posting-list key — at corpus scale this is the partition/bucket
    column of the materialized index table).

    The coalesce to -1 (a cell id that can never be probed) makes the
    column NON-NULLABLE: without it, joining on the cell makes
    Catalyst push an ``isnotnull(cell)`` filter below the projection
    and the plan evaluates the assignment UDF TWICE (once for the
    filter, once for the value)."""
    cells = _ivf_cells_udf(centroids, 1)(vec_col)
    return df.withColumn(
        out, F.coalesce(F.element_at(cells, 1), F.lit(-1))
    )


def with_ivf_probes(
    df: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    vec_col: str = "embedding",
    out: str = "_cells",
) -> DataFrame:
    """Assign each (query) vector its top-``nprobe`` nearest centroid
    cells as an array column — the query-side half of the IVF index,
    materializable next to ``with_ivf_cell``'s corpus assignments."""
    return df.withColumn(out, _ivf_cells_udf(centroids, nprobe)(vec_col))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid's cell; each query probes its ``nprobe`` nearest cells and
    scores exact cosine only against those cells' members. Same output
    schema as ``cosine_topk``/``lsh_topk`` → recall@k directly
    measurable; recall rises with nprobe (and falls with n_centroids)
    at the cost of candidate volume ≈ corpus × nprobe / n_centroids.

    No distinct() is needed on candidates: a corpus row has exactly
    one cell and a query's probed cells are distinct, so each
    (query, neighbor) pair arises at most once. Pass pre-trained
    ``centroids`` to keep plan construction job-free (the index-build
    split); with None, ``train_ivf_centroids`` runs its one bounded
    sample job here.

    ``broadcast_queries``: the exploded query side is queries × nprobe
    rows, each carrying the full embedding — the right side to
    broadcast for a probe/eval set, but a LARGE query frame (e.g.
    corpus-vs-corpus all-pairs ANN) would blow the broadcast threshold:
    pass False there and let AQE pick the join strategy on the shuffled
    cell key."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, vec_col, id_col, n_centroids, seed=seed
        )
    c = with_ivf_cell(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        centroids, "_cv", out="_cell",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_cells", _ivf_cells_udf(centroids, nprobe)("_qv"))
    # explode_OUTER: a plain explode makes Catalyst infer
    # ``size(_cells) > 0 AND isnotnull(_cells)`` and push it below the
    # projection — evaluating the probe UDF twice. The outer variant
    # infers nothing; null rows (never produced for valid embeddings)
    # are dropped by the join's own isnotnull(_cell) filter, which
    # sits ABOVE the Generate and costs nothing.
    q_probed = q.select(
        "query_id", "_qv", F.explode_outer("_cells").alias("_cell")
    )
    return ivf_topk_from_cells(c, q_probed, k, broadcast_queries)


def ivf_topk_from_cells(
    c: DataFrame,
    q_probed: DataFrame,
    k: int = 5,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Cell join + exact-cosine rank from ALREADY-assigned frames:
    ``c`` = (neighbor_id, _cv, _cell), ``q_probed`` = (query_id, _qv,
    _cell) with one row per probed cell. The oracle-checkable
    downstream half of ``ivf_topk`` (the assignment UDFs are
    pytest-pinned; everything from here on is relational)."""
    if broadcast_queries:
        q_probed = F.broadcast(q_probed)
    scored = (
        c.join(q_probed, "_cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k)


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Fraction of exact top-k pairs recovered by the approximate
    search (both frames: query_id, neighbor_id)."""
    hit = approx.select("query_id", "neighbor_id").intersect(
        exact.select("query_id", "neighbor_id")
    )
    total = exact.count()
    return (hit.count() / total) if total else 1.0


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """int8 scalar quantization: ``(id, qvec array<int> in [-127,127],
    scale)`` with per-vector max-abs scaling —
    ``q_i = floor(v_i * 127 / maxabs + 0.5)`` (explicit floor(x+0.5)
    so Spark and any SQL engine round identically; no banker's/HALF_UP
    ambiguity). The all-zero vector quantizes to all zeros.

    Why this matters at 100 TB: a float32[64] embedding column is the
    widest thing in a pages table; int8 codes cut scan + shuffle bytes
    4× while cosine survives unchanged up to quantization noise —
    per-vector scaling cancels in the cosine ratio, so scores need NO
    dequantization. And because int8 dots/norms are small exact
    integers (≤ 127²·dim ≪ 2⁵³), quantized cosine is bit-reproducible
    across engines and summation orders — the rare ANN variant whose
    oracle can be hash-exact rather than tolerance-based.
    """
    maxabs = F.aggregate(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    qv = F.when(
        maxabs > 0,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / maxabs + F.lit(0.5)
            ).cast("int"),
        ),
    ).otherwise(F.transform(F.col(vec_col), lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        qv.alias("qvec"),
        F.round(maxabs / 127.0, 9).alias("scale"),
    )


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — same contract
    as ``cosine_topk`` (broadcast bounded query set, exclude self,
    ties → neighbor id asc) but the corpus side scans 4×-smaller
    codes and every dot/norm is exact integer arithmetic. Recall vs
    the exact baseline is pinned in tests; use as the cheap first
    pass of a rerank cascade (sq_topk at k·4 → exact cosine rerank).
    """
    cq = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("_cv")
    )
    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("_qv")
    )
    scored = (
        cq.crossJoin(F.broadcast(qq))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k)


def sq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    expand: int = 4,
) -> DataFrame:
    """Two-stage rerank cascade: int8 quantized brute pass over the
    4×-smaller codes nominates ``k·expand`` candidates per query, then
    ONLY those candidates are rescored at full float precision. Output
    contract = ``cosine_topk`` (exact cosines, ties → neighbor id).

    Scale shape: pass 1 scans int8 codes (the cheap full-corpus
    touch); pass 2's candidate set is |Q|·k·expand rows — broadcast
    back against the corpus as a semi-join, so full-precision vectors
    are only materialized for candidates and the corpus never
    shuffles. Recall ≥ the plain quantized search by construction
    (reranking can only fix pass-1 ordering errors inside the
    candidate set; ``expand`` buys back nominations lost to
    quantization noise)."""
    cand = sq_topk(
        corpus, queries, id_col, vec_col, k=k * expand
    ).select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    )
    return _rank_topk(scored, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: per
    query, the top-``k`` most-similar corpus vectors that are NOT
    known positives — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; the informative
    ones live just under the positive band).

    ``positives`` is the qrels table ``(query_id, neighbor_id)``; it
    is deduplicated and BROADCAST into a left-anti join, so the scored
    stream never shuffles (qrels are eval/train-label sized). Query
    side is broadcast like ``cosine_topk``. Ranking happens on the
    round-6 cosine with an ascending-id tiebreak — fully portable, so
    the oracle reproduces the exact survivor set (ranking on the raw
    float would make the nominate cut engine-dependent at the ulp
    level). Self-matches are excluded unconditionally.

    Output: ``(query_id, neighbor_id, cosine, rank)``, rank 1..k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    pos = positives.select("query_id", "neighbor_id").distinct()
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(pos), ["query_id", "neighbor_id"], "left_anti")
        .withColumn(
            "cosine", F.round(cosine_col(F.col("_qv"), F.col("_cv")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
