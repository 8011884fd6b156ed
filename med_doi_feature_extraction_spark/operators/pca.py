"""Embedding second-moment statistics and PCA whitening.

Embedding-space curation (SemDeDup-style clustering, ANN recall,
drift monitors) degrades when the embedding covariance is
ill-conditioned; the standard fix is to whiten — project onto the
principal axes and rescale by 1/sqrt(eigenvalue). Doing that at
corpus scale needs exactly one distributed primitive: the d×d
second-moment (Gram) matrix. Everything else is driver-side linear
algebra on a d×d object and a broadcast projection.

Execution shape, 100 TB lens:

- :func:`embed_gram` computes the moments with ``mapInPandas``
  partial aggregation: each Arrow batch contributes one int64
  ``Xᵀ X`` (d², computed by numpy matmul), one column-sum vector and
  one count — ≤ d(d+1)/2 + d + 1 slim rows per PARTITION cross the
  shuffle, never the vectors themselves. The global combine is a
  plain hash-agg SUM. This is the classic tree-aggregate shape; the
  corpus is read once and nothing corpus-sized shuffles.
- Cross-engine exactness: values are quantized to integer units
  (``floor(|x|·scale + 0.5)·sign``, the repo-wide µ discipline)
  BEFORE any product, so every moment is an exact BIGINT — numpy's
  int64 matmul and an oracle engine's SUM of per-element products
  are the same integers regardless of summation order. Envelope:
  |x| ≤ 8 at scale 1e6 ⇒ each product ≤ 6.4e13; int64 overflows past
  ~1.4e5 rows per batch × … — in practice sums stay < 9.2e18 below
  ~10¹⁰ rows per group; raise ``scale`` down to 1e4 for bigger
  corpora (documented envelope, same treatment as operators/assoc).
- :func:`pca_whiten` collects the BOUNDED gram table (d(d+1)/2+d+1
  rows — never corpus rows), eigendecomposes the d×d covariance on
  the driver, and broadcasts the whitening matrix into a
  ``mapInPandas`` projection — one scan, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from med_doi_feature_extraction_spark.kernels.fixed import fixed_sql


def _quantize(x: np.ndarray, scale: float) -> np.ndarray:
    """floor(|x|·scale + 0.5)·sign(x) as int64 — matches the SQL
    micro pattern exactly (ties away from zero, NOT banker's)."""
    return (
        np.floor(np.abs(x.astype(np.float64)) * scale + 0.5)
        * np.sign(x)
    ).astype(np.int64)


_GRAM_SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("s", T.LongType()),
    ]
)


def embed_gram(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: float = 1e6,
) -> DataFrame:
    """Exact integer second moments of an embedding column.

    Output (long/triplet form, one bounded table):
      - ``i >= 0, j >= i``: Σ x̂ᵢ·x̂ⱼ over all rows (x̂ = int64
        quantized at ``scale``) — upper triangle of the Gram matrix;
      - ``i >= 0, j = -1``: Σ x̂ᵢ (column sums);
      - ``i = -1, j = -1``: row count.

    All values are exact BIGINTs — see module docstring.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    iu, ju = np.triu_indices(dim)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gram = np.zeros((dim, dim), dtype=np.int64)
        sums = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            if len(vecs) == 0:
                continue
            x = _quantize(np.stack(vecs), scale)
            if x.shape[1] != dim:
                raise ValueError(
                    f"vector dim {x.shape[1]} != declared {dim}"
                )
            gram += x.T @ x
            sums += x.sum(axis=0)
            n += len(x)
        yield pd.DataFrame(
            {
                "i": np.concatenate(
                    [iu, np.arange(dim), np.array([-1])]
                ).astype(np.int32),
                "j": np.concatenate(
                    [
                        ju,
                        np.full(dim, -1),
                        np.array([-1]),
                    ]
                ).astype(np.int32),
                "s": np.concatenate(
                    [gram[iu, ju], sums, np.array([n])]
                ).astype(np.int64),
            }
        )

    partials = df.select(vec_col).mapInPandas(gen, _GRAM_SCHEMA)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("s").cast("long").alias("s"),
        )
    )


def embed_cov(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: float = 1e6,
) -> DataFrame:
    """Upper-triangle covariance entries from :func:`embed_gram`:
    ``i, j, n, sxy (BIGINT scale² units), sx, sy (BIGINT scale
    units), cov (6 dp double)`` — cov = E[xy] − E[x]E[y]. The two
    column-sum attaches are broadcast joins of a ≤ d+1-row frame."""
    g = embed_gram(df, vec_col, dim, scale)
    moments = g.filter((F.col("i") >= 0) & (F.col("j") >= 0))
    sums = g.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("k"), F.col("s").alias("sk")
    )
    n_row = g.filter((F.col("i") == -1)).select(
        F.col("s").alias("n")
    )
    out = (
        moments.join(
            F.broadcast(sums.withColumnsRenamed({"k": "i", "sk": "sx"})),
            "i",
        )
        .join(
            F.broadcast(sums.withColumnsRenamed({"k": "j", "sk": "sy"})),
            "j",
        )
        .crossJoin(F.broadcast(n_row))
    )
    nd = F.col("n").cast("double")
    cov = (
        F.col("s").cast("double") / F.lit(scale * scale) / nd
        - (F.col("sx").cast("double") / F.lit(scale) / nd)
        * (F.col("sy").cast("double") / F.lit(scale) / nd)
    )
    return out.select(
        "i",
        "j",
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("sxy"),
        F.col("sx").cast("long").alias("sx"),
        F.col("sy").cast("long").alias("sy"),
        F.round(cov, 6).alias("cov"),
    )


def oracle_embed_cov_sql(
    rel_sql: str,
    vec_col: str,
    dim: int,
    scale: float = 1e6,
) -> str:
    """DuckDB twin of :func:`embed_cov` — per-element quantized
    products summed by the engine; identical BIGINTs because the
    quantization happens before any product."""
    s = int(scale)

    def q(i: str) -> str:
        """Element ``i`` (0-based) of the vector, quantized."""
        return fixed_sql(
            f'CAST("{vec_col}"[CAST({i} + 1 AS INT)] AS DOUBLE)', s
        )

    xi = q("ii")
    xj = q("jj")
    return f"""
WITH idx AS (
  SELECT CAST(a.range AS INT) AS ii, CAST(b.range AS INT) AS jj
  FROM range({dim}) a, range({dim}) b
  WHERE a.range <= b.range
),
moments AS (
  SELECT ii AS i, jj AS j,
         CAST(sum({xi} * {xj}) AS BIGINT) AS sxy
  FROM {rel_sql}, idx
  GROUP BY ii, jj
),
sums AS (
  SELECT CAST(r.range AS INT) AS k,
         CAST(sum({q("r.range")}) AS BIGINT) AS sk
  FROM {rel_sql}, range({dim}) r
  GROUP BY r.range
),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {rel_sql})
SELECT m.i, m.j, nrow.n, m.sxy,
       a.sk AS sx, b.sk AS sy,
       CAST(round(
         m.sxy::DOUBLE / {s}.0 / {s}.0 / nrow.n::DOUBLE
         - (a.sk::DOUBLE / {s}.0 / nrow.n::DOUBLE)
           * (b.sk::DOUBLE / {s}.0 / nrow.n::DOUBLE), 6) AS DOUBLE)
         AS cov
FROM moments m
JOIN sums a ON a.k = m.i
JOIN sums b ON b.k = m.j
CROSS JOIN nrow
"""


def pca_whiten(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int,
    scale: float = 1e6,
    eps: float = 1e-9,
) -> DataFrame:
    """PCA-whitening projection onto the top-``k`` principal axes:
    ``y = Λ_k^{-1/2} U_kᵀ (x − µ)``. The covariance comes from
    :func:`embed_gram` (exact integer moments; the ONLY driver
    collect is the bounded d(d+1)/2+d+1-row gram table), the
    eigendecomposition runs on the d×d matrix on the driver, and the
    whitening matrix rides into a ``mapInPandas`` projection as a
    plan literal — one corpus scan, zero corpus shuffles.

    Deterministic across runs: eigenvectors get a canonical sign
    (largest-|component| entry positive). Output: ``id_col``,
    ``proj`` (array<double>, 6 dp).
    """
    if not 1 <= k <= dim:
        raise ValueError("k must be in [1, dim]")
    rows = embed_gram(df, vec_col, dim, scale).collect()
    gram = np.zeros((dim, dim), dtype=np.float64)
    sums = np.zeros(dim, dtype=np.float64)
    n = 0
    for r in rows:
        if r["i"] == -1:
            n = r["s"]
        elif r["j"] == -1:
            sums[r["i"]] = r["s"]
        else:
            gram[r["i"], r["j"]] = r["s"]
            gram[r["j"], r["i"]] = r["s"]
    if n < 2:
        raise ValueError("need >= 2 vectors to whiten")
    mu = sums / scale / n
    cov = gram / (scale * scale) / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    lam = np.maximum(evals[order], eps)
    u = evecs[:, order]
    # canonical sign: the largest-|.| component of each axis positive
    flip = np.sign(u[np.argmax(np.abs(u), axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    w = (u * flip) / np.sqrt(lam)  # d×k

    out_schema = T.StructType(
        [
            T.StructField("_id", T.LongType()),
            T.StructField("proj", T.ArrayType(T.DoubleType())),
        ]
    )

    def project(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            y = np.round((x - mu) @ w, 6)
            yield pd.DataFrame(
                {"_id": pdf[id_col].astype("int64"), "proj": list(y)}
            )

    return (
        df.select(id_col, vec_col)
        .mapInPandas(project, out_schema)
        .select(F.col("_id").alias(id_col), "proj")
    )
