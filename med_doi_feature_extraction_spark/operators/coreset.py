"""Greedy k-center coreset selection over an embedding column.

Diverse-subset selection is the standard counterweight to quality
filtering in training-data curation: quality gates concentrate the
corpus, and a k-center pass re-spreads it by picking the k most
mutually-distant exemplars (the 2-approximation farthest-point
traversal of Gonzalez 1985, the selector behind coreset / active-
learning pickers like Sener & Savarese 2018). The reference repo
scores records one at a time (`src/services/quality_service.py`);
set-level diversity needs exactly this operator.

Execution shape, 100 TB lens: k rounds, each = ONE corpus scan that
(a) updates the running min-distance-to-selected column via a 1-row
broadcast of the last-picked center (the sanctioned bounded
crossJoin, same shape as operators/logreg's GD iterations) and
(b) reduces to the next center with a single ``max_by`` hash-agg —
nothing corpus-sized ever reaches the driver, and no pairwise n²
distance matrix exists at any point. ``k`` is a small constant by
contract (a selector, not a clusterer — ``kmeans`` owns large k).
Lineage is truncated per round with a lazy ``localCheckpoint`` (the
kcore/pagerank guard) so the unrolled plan stays linear in k.

Cross-engine exactness: vectors are quantized to integer units
(``sign · floor(|x|·scale + 0.5)``, ``kernels.fixed``) BEFORE any
arithmetic, so every squared distance is an exact BIGINT and every
argmax/tie-break (max distance, then min id) is exact in both
engines — the oracle unrolls the identical greedy recursion as
nested CTEs. Envelope: |x| ≤ 8 at scale 1e3 ⇒ per-coordinate
squares ≤ 6.4e7, dim 64 ⇒ dist² ≤ 4.1e9 — exact in BIGINT and in
DuckDB's float64 list math alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import fixed, fixed_sql


def _dist2(a: F.Column, b: F.Column) -> F.Column:
    """Exact BIGINT squared euclidean distance of two long arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def kcenter_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    scale: float = 1e3,
) -> DataFrame:
    """Greedy farthest-point (k-center) selection: k rows
    ``(pick, vec_id, dist2)`` where ``pick`` is the selection round,
    ``vec_id`` the chosen point and ``dist2`` its exact quantized
    squared distance to the previously-selected set at pick time
    (the coverage radius² just before this pick; 0 for the seed).

    Seed = the minimum id (deterministic); each subsequent pick is
    the point maximizing the running min-distance to the selected
    set, ties broken toward the smaller id. Callers must ensure
    ``k`` ≤ the number of distinct non-null ids — past that the
    remaining rounds re-pick already-covered points (dist2 = 0).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pts = df.select(
        F.col(id_col).cast("long").alias("_id"),
        F.transform(
            F.col(vec_col), lambda x: fixed(x.cast("double"), scale)
        ).alias("_q"),
    ).filter(F.col("_id").isNotNull())
    seed = pts.agg(F.min("_id").alias("_sid"))
    sel = (
        pts.join(F.broadcast(seed), F.col("_id") == F.col("_sid"))
        .select(
            F.lit(0).cast("long").alias("pick"),
            "_id",
            "_q",
            F.lit(0).cast("long").alias("dist2"),
        )
    )
    centers = sel
    state = (
        pts.crossJoin(F.broadcast(sel.select(F.col("_q").alias("_cq"))))
        .select(
            "_id",
            "_q",
            _dist2(F.col("_q"), F.col("_cq")).alias("_mind"),
        )
        .localCheckpoint(eager=False)
    )
    for r in range(1, k):
        nxt = (
            state.agg(
                F.max_by(
                    F.struct("_id", "_q", "_mind"),
                    # unique ordering key: max distance, then min id
                    F.struct(F.col("_mind"), (-F.col("_id")).alias("_n")),
                ).alias("_s")
            )
            .select("_s.*")
        )
        centers = centers.unionByName(
            nxt.select(
                F.lit(r).cast("long").alias("pick"),
                "_id",
                "_q",
                F.col("_mind").alias("dist2"),
            )
        )
        state = (
            state.crossJoin(
                F.broadcast(nxt.select(F.col("_q").alias("_cq")))
            )
            .select(
                "_id",
                "_q",
                F.least(
                    F.col("_mind"), _dist2(F.col("_q"), F.col("_cq"))
                ).alias("_mind"),
            )
            .localCheckpoint(eager=False)
        )
    return centers.select(
        "pick", F.col("_id").alias("vec_id"), "dist2"
    )


def oracle_kcenter_sql(
    rel_sql: str,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    scale: float = 1e3,
) -> str:
    """DuckDB twin of :func:`kcenter_select` — the same greedy
    recursion unrolled as nested CTEs (s_i = round-i pick, d_i =
    running min-dist after absorbing it), identical quantization
    and tie-break."""
    d2 = (
        "CAST(list_sum(list_transform(range(1, {n}), "
        "i -> (p.q[i]-s.q[i])*(p.q[i]-s.q[i]))) AS BIGINT)"
    ).format(n=dim + 1)
    parts = [f"""
pts AS (
  SELECT CAST("{id_col}" AS BIGINT) AS id,
         list_transform("{vec_col}"::DOUBLE[],
             x -> {fixed_sql('x', scale)}
         ) AS q
  FROM {rel_sql}
  WHERE "{id_col}" IS NOT NULL
),
s0 AS (
  SELECT CAST(0 AS BIGINT) AS pick, id, q, CAST(0 AS BIGINT) AS dist2
  FROM pts WHERE id = (SELECT min(id) FROM pts)
),
d0 AS (
  SELECT p.id, p.q, {d2} AS mind
  FROM pts p, s0 s
)"""]
    for i in range(1, k):
        parts.append(f"""
s{i} AS (
  SELECT CAST({i} AS BIGINT) AS pick, id, q, mind AS dist2
  FROM d{i - 1} ORDER BY mind DESC, id LIMIT 1
),
d{i} AS (
  SELECT p.id, p.q, least(p.mind, {d2}) AS mind
  FROM d{i - 1} p, s{i} s
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT pick, id AS vec_id, dist2 FROM s{i}" for i in range(k)
    )
    return "WITH " + ",".join(parts) + "\n" + union
