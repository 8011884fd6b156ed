"""Link-graph analytics: fixed-iteration PageRank over an edge table.

Web-corpus curation weights documents by the authority of their host
(Common Crawl publishes harmonic/PageRank centrality per domain and
corpora like RefinedWeb/FineWeb use URL+graph signals as quality
priors). The reference repo scores each record in isolation
(`src/services/quality_service.py`); a corpus-scale engine needs the
graph-side signal too, so this module provides the canonical one.

Execution shape (the one that survives 100×):

- The edge table is joined with out-degrees ONCE up front and
  persisted — per-iteration work never recomputes degrees.
- Each iteration is exactly one shuffle-join (ranks ⋈ edges on src)
  plus one hash-agg on dst; both sides hash-partition on the join/agg
  key, so AQE coalesces the shrinking frontier. For a production
  layout, bucket the edge table by ``src`` (sources/catalog.
  save_bucketed) and the per-iteration join runs exchange-free on the
  edge side — only the slim (node, rank) side moves.
- Dangling mass (nodes with no out-links — very common in crawl
  graphs: leaf URLs) is redistributed uniformly via the sanctioned
  1-row-totals broadcast pattern (a 1-row aggregate crossJoined back,
  same shape as operators/lm.vocab_shift): no driver-side collect of
  anything unbounded.
- Lineage is truncated with ``localCheckpoint`` every iteration so a
  50-iteration run doesn't hand Catalyst an exponentially nested plan
  (same guard as operators/dedup.dup_clusters).

Float determinism: ranks are sums of float contributions, so Spark
and an oracle engine may disagree below ~1e-12 relative; the contract
harness canonicalizes floats at 6 decimal places and ranks live in
[1e-4, 1], leaving ≥6 orders of magnitude of slack — hash-exact in
practice (same argument as operators/lm.lm_quality_score).

Each graph decision is written once, as a private helper every
operator calls (with its DuckDB twin, ``*_sql``, next to it where an
oracle spells it out):

- ``_edge_rule`` (``_edge_rule_sql``): both endpoints cast to BIGINT,
  NULL endpoints and self-loops dropped — the simple-graph operators
  and the bow-tie adjacency;
- ``_undirected`` (``_undirected_sql``): the canonical ``(u < v)``
  distinct edge set, its degree table and the degree-joined edges;
- ``_symmetric`` (``_symmetric_sql``): the distinct adjacency holding
  each undirected edge in both directions;
- ``_closed_wedges``: the degree-oriented wedge join closed against the
  edge set (triangle census and local clustering);
- ``_rank_edges``, ``_rank_inputs`` and ``_power_iteration``: the rank
  family's edge rule (NULL endpoints dropped, self-loops and parallel
  edges kept), its node / out-edge tables and the power iteration.
  Each rank operator passes its own float expressions, so its values
  stay bit-identical to its closed form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.kernels.fixed import (
    fixed,
    fixed_abs,
    fixed_abs_sql,
    fixed_sql,
)

DEFAULT_DAMPING = 0.85


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    """(node, out_deg) for every node with at least one out-edge.
    One hash-agg; partial aggregation absorbs hot hubs map-side."""
    return edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )


def graph_nodes(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct node set = src ∪ dst (one exchange on the node id)."""
    return (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )


def _rank_edges(
    edges: DataFrame, src: str, dst: str, *cols: Column
) -> DataFrame:
    """The rank family's edge rule: ``(src, dst, *cols)`` without the
    rows that have a NULL endpoint — such a row links nothing, and kept
    it would add a NULL node that takes a share of the rank mass. Ids
    keep their type; self-loops and parallel edges are links and stay."""
    return edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), *cols
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())


def _rank_inputs(
    e: DataFrame, out: DataFrame, edge_col: str | Column
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(nodes, edges_out, has_out)`` of a rank run over ``e``: the node
    set, every edge joined ONCE with its source's row of the out table
    ``out`` (``node`` plus the aggregate ``edge_col`` reads) and kept
    as ``(src, dst, edge_col)``, and the nodes with an out-edge. Both
    tables are lazily checkpointed — iterations never recompute them."""
    nodes = graph_nodes(e).localCheckpoint(eager=False)
    edges_out = e.join(out, e.src == out.node).select(
        "src", "dst", edge_col
    ).localCheckpoint(eager=False)
    return nodes, edges_out, out.select("node")


def _power_iteration(
    *,
    edges_out: DataFrame,
    has_out: DataFrame,
    base: DataFrame,
    consts: tuple[DataFrame, ...],
    init: Column,
    contrib: Column,
    teleport: Column,
    dangle: Column,
    damping: float,
    n_iter: int,
) -> DataFrame:
    """The rank family's power iteration → ``(node, rank)``::

        rank'(v) = teleport(v) + d·(Σ_{u→v} contrib(u→v) + dangle(v))

    ``base`` holds one row per node; the 1-row ``consts`` are
    broadcast onto it, and ``init`` (the starting rank), ``teleport``
    and ``dangle`` read the columns of both. ``dangle`` also reads the
    1-row dangling mass ``_dm`` (Σ rank over the nodes outside
    ``has_out``); ``contrib`` reads ``rank`` and the ``edges_out``
    columns. Each caller passes its own float expressions: the same
    rank reached by a different expression tree differs in the last
    bit. One shuffle join + one dst hash-agg per round, lineage
    truncated every round."""

    def _with_consts(df: DataFrame, *rows: DataFrame) -> DataFrame:
        for c in rows:
            df = df.crossJoin(F.broadcast(c))
        return df

    ranks = _with_consts(base, *consts).select("node", init.alias("rank"))
    for _ in range(n_iter):
        contribs = (
            edges_out.join(ranks, edges_out.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(contrib).alias("contrib"))
        )
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )  # 1 row
        ranks = (
            _with_consts(
                base.join(contribs, base.node == contribs.dst, "left"),
                *consts,
                dangling,
            )
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + dangle)
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)  # truncate per-iteration lineage
        )
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = DEFAULT_DAMPING,
) -> DataFrame:
    """Fixed-iteration PageRank → (node, rank), sum(rank) == 1.

    Semantics (the textbook power iteration with uniform dangling
    redistribution)::

        rank'(v) = (1-d)/N
                 + d * ( Σ_{u→v} rank(u)/outdeg(u)  +  dangling/N )

    where ``dangling = Σ rank(u) over nodes with outdeg 0``. Every
    quantity is a DataFrame: N and the dangling mass are 1-row
    aggregates broadcast back onto the node table — the driver never
    sees a row. Rows with a NULL endpoint are dropped before the
    out-degrees are counted (they link nothing), as in
    :func:`pagerank_weighted`. Self-loops and parallel edges are taken
    as given (parallel edges weight the contribution, like a link
    repeated on a page); callers wanting simple-graph semantics
    distinct() first.

    n_iter is fixed rather than convergence-tested so the job graph
    is static and the result engine-portable (an oracle can unroll the
    same iterations); for web graphs 10–20 iterations is the standard
    operating point.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = _rank_edges(edges, src, dst)
    nodes, edges_deg, has_out = _rank_inputs(e, out_degrees(e), "out_deg")
    n_total = nodes.agg(F.count(F.lit(1)).alias("_n"))  # 1 row
    return _power_iteration(
        edges_out=edges_deg,
        has_out=has_out,
        base=nodes,
        consts=(n_total,),
        init=F.lit(1.0) / F.col("_n"),
        contrib=F.col("rank") / F.col("out_deg"),
        teleport=F.lit(1.0 - damping) / F.col("_n"),
        dangle=F.col("_dm") / F.col("_n"),
        damping=damping,
        n_iter=n_iter,
    )


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = DEFAULT_DAMPING,
) -> DataFrame:
    """TrustRank (Gyöngyi et al., VLDB 2004): PageRank with the
    teleport — and the dangling mass — restricted to a trusted seed
    set. Trust flows OUT from seeds along links; spam farms that
    manufacture rank among themselves receive (almost) none, which is
    exactly the demotion signal the reciprocal-link/link-farm audits
    flag candidates for.

    ``rank'(v) = (1-d)·tv(v) + d·(Σ_{u→v} rank(u)/outdeg(u)
                 + dangling·tv(v))`` with ``tv`` = 1/|S| on seeds, 0
    elsewhere; ranks start AT ``tv``. Same distributed shape and edge
    rule as :func:`pagerank` (rows with a NULL endpoint are dropped
    before the out-degrees are counted) — slim node/edge tables, 1-row
    aggregates broadcast, per-iteration lineage truncation; the seed
    table is assumed ⊆ the graph's nodes (a seed outside the graph
    would leak its teleport share).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = _rank_edges(edges, src, dst)
    nodes, edges_deg, has_out = _rank_inputs(e, out_degrees(e), "out_deg")
    s = seeds.select("node").distinct()
    ns = s.agg(F.count(F.lit(1)).cast("double").alias("_ns"))  # 1 row
    tv = (
        nodes.join(s.withColumn("_is", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            (F.coalesce(F.col("_is"), F.lit(0)) / F.col("_ns")).alias("tv"),
        )
        .localCheckpoint(eager=False)
    )
    return _power_iteration(
        edges_out=edges_deg,
        has_out=has_out,
        base=tv,
        consts=(),
        init=F.col("tv"),
        contrib=F.col("rank") / F.col("out_deg"),
        teleport=F.lit(1.0 - damping) * F.col("tv"),
        dangle=F.col("_dm") * F.col("tv"),
        damping=damping,
        n_iter=n_iter,
    )


def degree_join(
    df: DataFrame, edges: DataFrame, node_col: str,
    src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Attach in/out degree features to an entity table (left join;
    isolated nodes get 0). Both degree tables are key-grouped slims —
    AQE broadcast-converts them against a large entity side."""
    out_d = edges.groupBy(F.col(src).alias(node_col)).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col(dst).alias(node_col)).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        df.join(out_d, node_col, "left")
        .join(in_d, node_col, "left")
        .fillna(0, subset=["out_deg", "in_deg"])
    )


def score_propagation(
    scores: DataFrame,
    edges: DataFrame,
    n_iter: int = 2,
    alpha: float = 0.5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Semi-supervised score smoothing over the link graph (label
    propagation): per iteration::

        s'(v) = (1−α)·s0(v) + α·mean_{u→v} s(u)

    where ``s0`` is the node's own (anchor) score and the mean runs
    over in-neighbors; nodes with no in-edges keep their current score
    in the α term (coalesce) so isolation never decays an anchor. The
    quality-gate use: a page's classifier score is noisy, its
    neighborhood's average is less so — FineWeb-Edu-style smoothing of
    per-page quality with host/link structure, built from the same
    join shape as :func:`pagerank` (one edges⋈scores shuffle join +
    one dst-keyed hash-agg per iteration, lineage truncated per
    round). Fixed ``n_iter`` and a single final round-6 keep it
    CTE-unrollable by an oracle. (Intermediate values are NOT rounded:
    rounding each iteration parks half the degree-2 nodes exactly on
    the 5e-7 rounding grid — the mean of two 6-dp values — where
    engine round() implementations may disagree; full-precision
    intermediates keep the float noise ~1e-16, far inside the final
    6-dp gate. Found by the contract harness, kept as a warning.)

    Input ``scores``: (node, score). Output: (node, score) after
    ``n_iter`` rounds — same schema, composable.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    cur = scores.select("node", F.col("score").cast("double").alias("score"))
    anchor = cur.select("node", F.col("score").alias("_s0"))
    for _ in range(n_iter):
        nbr = (
            e.join(cur, e.src == cur.node)
            .groupBy("dst")
            .agg(F.avg("score").alias("_nbr"))
        )
        cur = (
            anchor.join(cur, "node")
            .join(nbr, anchor.node == nbr.dst, "left")
            .select(
                "node",
                (
                    F.lit(1.0 - alpha) * F.col("_s0")
                    + F.lit(alpha)
                    * F.coalesce(F.col("_nbr"), F.col("score"))
                ).alias("score"),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select("node", F.round("score", 6).alias("score"))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) → ``(node, authority,
    hub)``, both L2-normalized, rounded 6 dp on output only.

    The directional complement of ``pagerank`` for crawl-frontier
    scoring: authorities are pages many hubs point AT (fetch these),
    hubs are pages that point at many good authorities (mine these
    for outlinks) — PageRank's single score can't separate the two
    roles. Update per iteration (hub uses the NEW authority, the
    standard sequential form)::

        auth'(v) = Σ_{u→v} hub(u)      then L2-normalize
        hub'(u)  = Σ_{u→v} auth'(v)    then L2-normalize

    Plan shape mirrors ``pagerank``: each half-step is one edge⋈score
    join + one hash-agg on the receiving endpoint; the L2 norm is a
    1-row aggregate broadcast back (no driver collect); per-iteration
    lineage truncated with localCheckpoint. Fixed ``n_iter`` keeps
    the job graph static and the result engine-portable — the oracle
    unrolls the same iterations as CTEs. Parallel edges weight
    contributions (a repeated link counts twice), like ``pagerank``.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .localCheckpoint(eager=False)
    )
    nodes = graph_nodes(e).localCheckpoint(eager=False)
    floor = F.lit(1e-12)

    def _half(scores: DataFrame, frm: str, to: str) -> DataFrame:
        summed = (
            e.join(scores, e[frm] == scores.node)
            .groupBy(to)
            .agg(F.sum("v").alias("_s"))
        )
        raw = nodes.join(
            summed, nodes.node == summed[to], "left"
        ).select("node", F.coalesce(F.col("_s"), F.lit(0.0)).alias("v"))
        norm = raw.agg(
            F.greatest(F.sqrt(F.sum(F.col("v") * F.col("v"))), floor)
            .alias("_n")
        )
        return (
            raw.crossJoin(F.broadcast(norm))
            .select("node", (F.col("v") / F.col("_n")).alias("v"))
            .localCheckpoint(eager=False)
        )

    hubs = nodes.select("node", F.lit(1.0).alias("v"))
    auth = None
    for _ in range(n_iter):
        auth = _half(hubs, "src", "dst")
        hubs = _half(auth, "dst", "src")
    return (
        auth.select("node", F.round("v", 6).alias("authority"))
        .join(
            hubs.select("node", F.round("v", 6).alias("hub")), "node"
        )
    )


def _edge_rule(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The simple-graph edge rule: ``(_f, _t)`` with both endpoints
    cast to BIGINT, rows with a NULL endpoint and self-loops dropped.
    Edge direction is kept; callers canonicalize, symmetrize or dedup."""
    return edges.select(
        F.col(src).cast("long").alias("_f"),
        F.col(dst).cast("long").alias("_t"),
    ).filter(
        F.col("_f").isNotNull()
        & F.col("_t").isNotNull()
        & (F.col("_f") != F.col("_t"))
    )


def _edge_rule_sql(src: str, dst: str) -> str:
    """DuckDB twin of :func:`_edge_rule`: the WHERE clause over the raw
    edge rows."""
    return f"""  WHERE "{src}" IS NOT NULL AND "{dst}" IS NOT NULL
    AND CAST("{src}" AS BIGINT) != CAST("{dst}" AS BIGINT)"""


def _undirected(
    edges: DataFrame, src: str, dst: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The undirected simple graph on :func:`_edge_rule` →
    ``(e, deg, ed)``: the canonical distinct edge set ``e`` = ``(_u,
    _v)`` with ``_u < _v``, its degree table ``deg`` = ``(_n, _d)``
    (BIGINT) and ``ed`` = ``e`` joined with both end degrees ``(_du,
    _dv)``."""
    e = (
        _edge_rule(edges, src, dst)
        .select(
            F.least("_f", "_t").alias("_u"),
            F.greatest("_f", "_t").alias("_v"),
        )
        .distinct()
    )
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionAll(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).cast("long").alias("_d"))
    )
    ed = e.join(
        deg.select(F.col("_n").alias("_u"), F.col("_d").alias("_du")),
        "_u",
    ).join(
        deg.select(F.col("_n").alias("_v"), F.col("_d").alias("_dv")),
        "_v",
    )
    return e, deg, ed


def _undirected_sql(edges_sql: str, src: str, dst: str) -> str:
    """DuckDB twin of :func:`_undirected`: the ``e`` (u, v) and ``deg``
    (n, d) CTEs."""
    return f"""e AS (
  SELECT DISTINCT least(CAST("{src}" AS BIGINT), CAST("{dst}" AS BIGINT)) AS u,
         greatest(CAST("{src}" AS BIGINT), CAST("{dst}" AS BIGINT)) AS v
  FROM {edges_sql}
{_edge_rule_sql(src, dst)}
),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n
)"""


def _closed_wedges(e: DataFrame, ed: DataFrame, how: str) -> DataFrame:
    """The degree-oriented wedge join over :func:`_undirected`'s ``e``
    and ``ed``: orient every edge from its lower-(degree, id) endpoint
    to the higher, self-join the oriented edges on the apex into wedges
    ``(_apex, _x, _y)`` with ``_x < _y``, and join each wedge against
    the closing edge in ``e`` with ``how`` (``left_semi`` keeps one row
    per triangle, ``inner`` the same rows for callers that read the
    corners)."""
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
        F.when(u_first, F.col("_v")).otherwise(F.col("_u")).alias("_t"),
    )
    w1 = oriented.select(
        F.col("_s").alias("_apex"), F.col("_t").alias("_x")
    )
    w2 = oriented.select(
        F.col("_s").alias("_apex"), F.col("_t").alias("_y")
    )
    wedges = w1.join(w2, "_apex").filter(F.col("_x") < F.col("_y"))
    # wedge legs carry x < y, and the undirected edge set e is
    # already canonical (u < v), so closure is ONE equi-join
    closure = e.select(
        F.col("_u").alias("_x"), F.col("_v").alias("_y")
    )
    return wedges.join(closure, ["_x", "_y"], how)


def _symmetric(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The distinct symmetric adjacency ``(_f, _t)`` on
    :func:`_edge_rule`: every undirected edge once in each direction."""
    adj = _edge_rule(edges, src, dst)
    return adj.unionAll(
        adj.select(F.col("_t").alias("_f"), F.col("_f").alias("_t"))
    ).distinct()


def _symmetric_sql(name: str, edges_sql: str, src: str, dst: str) -> str:
    """DuckDB twin of :func:`_symmetric`: the CTE ``name`` (f, t)."""
    return f"""{name} AS (
  SELECT f, t FROM (
    SELECT CAST("{src}" AS BIGINT) AS f, CAST("{dst}" AS BIGINT) AS t
    FROM {edges_sql}
    UNION
    SELECT CAST("{dst}" AS BIGINT), CAST("{src}" AS BIGINT)
    FROM {edges_sql}
  )
  WHERE f IS NOT NULL AND t IS NOT NULL AND f != t
)"""


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle census of the undirected simple graph —
    triangle density separates organic link neighborhoods (friends
    of friends link each other; high clustering) from spam farms and
    generated link graphs (star/funnel shapes; near-zero
    clustering), a standing web-graph quality prior next to
    ``pagerank``'s authority.

    One row: ``n_nodes, n_edges`` (undirected, deduped, self-loops
    dropped), ``n_wedges`` (= Σ d(d−1)/2, exact BIGINT),
    ``n_triangles``, ``global_clustering`` (= 3·T / wedges, 6 dp;
    NULL when the graph has no wedges).

    Execution shape, 100 TB lens: the standard degree-orientation
    algorithm — orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, so every triangle
    is counted EXACTLY once and, crucially, each node's oriented
    out-degree is O(√m) on any graph (a hub's edges point INTO it,
    so the hub never fans out): the wedge self-join
    (oriented ⋈ oriented on the apex) is bounded by Σ outdeg² ≈
    m^1.5 instead of the naive Σ deg² which explodes on power-law
    webs. Wedge closure is ONE more equi-join against the oriented
    edge set. Three hash-aggs + two equi-joins total; no windows,
    no iteration.
    """
    e, deg, ed = _undirected(edges, src, dst)
    tri_ab = _closed_wedges(e, ed, "left_semi")
    tri_row = tri_ab.agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    stats = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(
            (F.col("_d") * (F.col("_d") - 1) / 2).cast("long")
        )
        .cast("long")
        .alias("n_wedges"),
    )
    out = nodes.crossJoin(F.broadcast(stats)).crossJoin(
        F.broadcast(tri_row)
    )
    cc = F.when(
        F.col("n_wedges") > 0,
        F.lit(3.0)
        * F.col("n_triangles").cast("double")
        / F.col("n_wedges").cast("double"),
    )
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(cc.isNull(), F.lit(None))
        .otherwise(fixed_abs(cc) / 1e6)
        .alias("global_clustering"),
    )


def oracle_triangle_sql(
    edges_sql: str, src: str = "src", dst: str = "dst"
) -> str:
    """DuckDB twin of :func:`triangle_count` — closed-form triple
    join on the canonical (u < v < w) edge triple (equivalent count
    to the degree-oriented plan; orientation is a physical-plan
    optimization, not a semantic one)."""
    return f"""
WITH {_undirected_sql(edges_sql, src, dst)},
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
),
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         (SELECT CAST(sum(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT)
          FROM deg) AS n_wedges,
         (SELECT n_triangles FROM tri) AS n_triangles
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN
         {fixed_abs_sql('3.0 * (n_triangles)::DOUBLE / (n_wedges)::DOUBLE')}
           / 1000000.0 END AS global_clustering
FROM stats
"""


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Newman degree assortativity of the undirected simple graph —
    ONE number summarizing wiring: r > 0 means hubs link hubs
    (social/collab graphs), r < 0 means hubs link leaves (the
    signature of the web and of star-shaped spam); a crawl whose r
    drifts positive is usually ingesting link farms. Computed as the
    Pearson correlation of end-point degrees over the DIRECTED
    double cover (each undirected edge contributes (d_u, d_v) AND
    (d_v, d_u) — the standard symmetric estimator).

    One row: ``n_edges, r`` (6 dp; NULL when all degrees are equal —
    a regular graph has no degree variance to correlate).

    Shape: the same edge canonicalization + degree hash-agg as
    :func:`triangle_count`, two slim joins to attach end degrees,
    ONE 1-row BIGINT-moment aggregate. Envelope: Σd² over edges
    < 2⁶³ (``2m·d_max² < 2⁶³``).
    """
    _, _, ed = _undirected(edges, src, dst)
    # double cover: (du, dv) and (dv, du)
    pairs = ed.select(
        F.col("_du").alias("_x"), F.col("_dv").alias("_y")
    ).unionAll(
        ed.select(F.col("_dv").alias("_x"), F.col("_du").alias("_y"))
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("_n2"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
    )
    n = F.col("_n2")
    cov = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    vx = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    vy = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    )
    r = F.when((vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy)))
    return agg.select(
        (n / 2).cast("long").alias("n_edges"),
        F.when(r.isNull(), F.lit(None))
        .otherwise(fixed(r) / 1e6)
        .alias("r"),
    )


def oracle_assortativity_sql(
    edges_sql: str, src: str = "src", dst: str = "dst"
) -> str:
    """DuckDB twin of :func:`degree_assortativity`."""
    rr = "(cov)::DOUBLE / (sqrt((vx)::DOUBLE) * sqrt((vy)::DOUBLE))"
    return f"""
WITH {_undirected_sql(edges_sql, src, dst)},
ed AS (
  SELECT du.d AS du, dv.d AS dv
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
),
pairs AS (
  SELECT du AS x, dv AS y FROM ed
  UNION ALL SELECT dv, du FROM ed
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs
),
fin AS (
  SELECT n, (n * sxy - sx * sy) AS cov,
         (n * sxx - sx * sx) AS vx, (n * syy - sy * sy) AS vy
  FROM agg
)
SELECT CAST(n / 2 AS BIGINT) AS n_edges,
       CASE WHEN vx > 0 AND vy > 0 THEN {fixed_sql(rr)} / 1000000.0 END AS r
FROM fin
"""


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient — the
    node-grain companion of :func:`triangle_count`: ``cc(v) = 2·t_v
    / (d_v·(d_v−1))``, the fraction of v's neighbor pairs that are
    themselves linked. Node-level clustering is the page-grain
    quality prior (a page whose neighborhood is a clique is inside
    an organic community; one bridging unconnected neighborhoods is
    a hub or an aggregator), and the input to average-local-
    clustering summaries.

    One row per node: ``node, degree, n_triangles, local_cc`` (6 dp;
    NULL when degree < 2 — no neighbor pair exists). Nodes in no
    triangle report 0.

    Shape: the :func:`triangle_count` oriented wedge join, kept as
    an INNER join so each triangle survives as a (apex, x, y)
    triple, exploded to its three corners (exactly 3 rows per
    triangle — bounded by 3T, not by degree²), then ONE hash-agg per
    node and a left join back onto the degree table.
    """
    e, deg, ed = _undirected(edges, src, dst)
    triples = _closed_wedges(e, ed, "inner")
    corners = (
        triples.select(F.col("_apex").alias("_n"))
        .unionAll(triples.select(F.col("_x").alias("_n")))
        .unionAll(triples.select(F.col("_y").alias("_n")))
    )
    tri = corners.groupBy("_n").agg(
        F.count(F.lit(1)).cast("long").alias("_t3")
    )
    out = deg.join(tri, "_n", "left").select(
        F.col("_n").alias("node"),
        F.col("_d").alias("degree"),
        F.coalesce("_t3", F.lit(0)).cast("long").alias("n_triangles"),
        F.col("_d").alias("_d2"),
    )
    cc = F.when(
        F.col("_d2") >= 2,
        F.lit(2.0)
        * F.col("n_triangles").cast("double")
        / (F.col("_d2") * (F.col("_d2") - 1)).cast("double"),
    )
    return out.select(
        "node",
        "degree",
        "n_triangles",
        F.when(cc.isNull(), F.lit(None))
        .otherwise(fixed_abs(cc) / 1e6)
        .alias("local_cc"),
    )


def oracle_local_clustering_sql(
    edges_sql: str, src: str = "src", dst: str = "dst"
) -> str:
    """DuckDB twin of :func:`local_clustering` — the closed-form
    u<v<w triple join exploded to corners."""
    return f"""
WITH {_undirected_sql(edges_sql, src, dst)},
triples AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
),
corners AS (
  SELECT a AS n FROM triples
  UNION ALL SELECT b FROM triples
  UNION ALL SELECT c FROM triples
),
tri AS (
  SELECT n, CAST(count(*) AS BIGINT) AS t3 FROM corners GROUP BY n
)
SELECT deg.n AS node, deg.d AS degree,
       CAST(coalesce(tri.t3, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d >= 2 THEN
         {fixed_abs_sql(
             '2.0 * (coalesce(tri.t3, 0))::DOUBLE'
             ' / (deg.d * (deg.d - 1))::DOUBLE'
         )} / 1000000.0 END AS local_cc
FROM deg LEFT JOIN tri ON tri.n = deg.n
"""


def k_hop_reach(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Breadth-first reachability from a seed set over the undirected
    graph: one row per reachable node with its ``min_hops`` (0 for
    seeds, ≤ ``k``). The crawl-frontier question — "how much of the
    graph is within k clicks of the seed list" — and the blast-radius
    audit for link-based contamination (everything ≤ k hops from a
    flagged host inherits suspicion).

    Execution shape, 100 TB lens: ``k`` unrolled BFS rounds, each =
    frontier ⋈ adjacency (equi join) → distinct → anti-join against
    the visited set — all keyed joins on node ids, no quadratic
    shapes; the adjacency (both directions) is built once. ``k`` is
    a small constant by contract (this is the bounded-horizon
    operator, not connected components — ``dedup.dup_clusters`` owns
    the unbounded case). Lazily composed: ONE plan, no driver-side
    iteration state beyond plan construction.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    adj = _symmetric(edges, src, dst)
    visited = seeds.select(
        F.col(node).cast("long").alias("node")
    ).distinct().withColumn("min_hops", F.lit(0).cast("long"))
    frontier = visited.select("node")
    for i in range(1, k + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["_f"])
            .select(F.col("_t").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("min_hops", F.lit(i).cast("long"))
        )
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def oracle_k_hop_sql(
    edges_sql: str,
    seeds_sql: str,
    k: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> str:
    """DuckDB twin of :func:`k_hop_reach` — the same BFS unrolled as
    nested CTEs (v_i = visited after round i, f_i = round-i
    frontier)."""
    parts = [f"""
{_symmetric_sql("adj", edges_sql, src, dst)},
v0 AS (
  SELECT DISTINCT CAST("{node}" AS BIGINT) AS node,
         CAST(0 AS BIGINT) AS min_hops
  FROM {seeds_sql}
),
f0 AS (SELECT node FROM v0)"""]
    for i in range(1, k + 1):
        parts.append(f"""
f{i} AS (
  SELECT DISTINCT adj.t AS node
  FROM f{i - 1} JOIN adj ON adj.f = f{i - 1}.node
  WHERE adj.t NOT IN (SELECT node FROM v{i - 1})
),
v{i} AS (
  SELECT node, min_hops FROM v{i - 1}
  UNION ALL
  SELECT node, CAST({i} AS BIGINT) FROM f{i}
)""")
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT node, min_hops FROM v{k}"
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peel over the undirected graph: one row
    per node still alive after ``rounds`` peel iterations, with its
    degree inside the surviving subgraph (``core_deg`` ≥ ``k`` when
    the peel has converged). The classic crawl-graph density signal —
    RefinedWeb-style host filtering keeps pages whose hosts sit in a
    dense core of the link graph, and spam farms fall out of the
    2-core long before PageRank notices them.

    Execution shape, 100 TB lens: ``rounds`` unrolled peel steps,
    each = degree hash-agg on the live edge set + two semi-joins to
    drop edges touching peeled nodes — all keyed on node ids, no
    quadratic shapes, and the live edge set only shrinks. ``rounds``
    is a small constant by contract (the bounded-horizon operator,
    like :func:`k_hop_reach`); each round's peel is a full degree
    pass, so convergence is typically ≤ log(n) rounds in practice —
    callers wanting a certificate check ``min(core_deg) >= k``.
    Each round references the live set three times (degree agg + two
    semi-joins), so lineage is truncated per round with a lazy
    ``localCheckpoint`` — without it the recompute tree grows
    3^rounds (same guard as :func:`pagerank`). No driver-side
    iteration.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    live = _symmetric(edges, src, dst).localCheckpoint(eager=False)
    for _ in range(rounds):
        keep = (
            live.groupBy("_f")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("_f")
        )
        live = (
            live.join(keep, "_f", "left_semi")
            .join(keep.select(F.col("_f").alias("_t")), "_t", "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        live.groupBy(F.col("_f").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )


def oracle_k_core_sql(
    edges_sql: str,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB twin of :func:`k_core` — the same peel unrolled as
    nested CTEs (e_i = live edges after round i)."""
    parts = ["\n" + _symmetric_sql("e0", edges_sql, src, dst)]
    for i in range(1, rounds + 1):
        parts.append(f"""
k{i} AS (
  SELECT f FROM e{i - 1} GROUP BY f HAVING count(*) >= {k}
),
e{i} AS (
  SELECT e.f, e.t FROM e{i - 1} e
  WHERE e.f IN (SELECT f FROM k{i})
    AND e.t IN (SELECT f FROM k{i})
)""")
    return (
        "WITH " + ",".join(parts)
        + f"""
SELECT f AS node, CAST(count(*) AS BIGINT) AS core_deg
FROM e{rounds} GROUP BY f HAVING count(*) >= {k}"""
    )


def label_communities(
    edges: DataFrame,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    et al. 2007) over the undirected SIMPLE graph: every node starts
    as its own label; each round it adopts the most frequent label
    among its neighbors AND itself (the self-vote damps the 2-cycle
    synchronous LPA falls into on bipartite pairs — e.g. an isolated
    edge converges instead of swapping labels forever), ties broken
    by the SMALLEST label — fully deterministic (the classic
    async/random-order variant is not). ``n_iter`` is a fixed
    bounded horizon by contract. Communities of
    mutually-linking hosts are the link-farm candidate generator the
    seed-restricted :func:`trustrank` then scores.

    Returns ``(node, label)`` — one row per node of the graph.

    Execution shape, 100 TB lens: per round ONE edge⋈label equi-join
    + two hash-aggs on node ((node, label) counts, then the
    argmax-with-min-tiebreak as ``min(struct(-cnt, label))``) + a
    left join back to the node set — all slim tables keyed on node
    ids, partial aggregation absorbing hub skew map-side; lineage
    truncated per round with a lazy ``localCheckpoint`` (same guard
    as :func:`pagerank`/:func:`k_core`). No driver-side state.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    sym = _symmetric(edges, src, dst).localCheckpoint(eager=False)
    nodes = sym.select(F.col("_f").alias("node")).distinct()
    voters = sym.unionAll(
        nodes.select(F.col("node").alias("_f"), F.col("node").alias("_t"))
    ).localCheckpoint(eager=False)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(n_iter):
        counts = (
            voters.join(labels, voters["_f"] == labels["node"])
            .groupBy(F.col("_t").alias("nd"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pick = counts.groupBy("nd").agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"), F.col("label").alias("lb")
                )
            ).alias("_p")
        )
        labels = (
            nodes.join(pick, nodes["node"] == pick["nd"], "left")
            .select(
                "node",
                F.coalesce(F.col("_p.lb"), F.col("node")).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
    return labels


def oracle_label_communities_sql(
    edges_sql: str,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB twin of :func:`label_communities` — the same rounds
    unrolled as CTEs; the argmax-with-min-tiebreak is expressed as
    max-count filter + ``min(label)`` (mathematically identical to
    the Spark side's ``min(struct(-cnt, label))``)."""
    parts = [f"""
{_symmetric_sql("e0", edges_sql, src, dst)},
nodes AS (SELECT DISTINCT f AS node FROM e0),
v AS (
  SELECT f, t FROM e0
  UNION ALL SELECT node, node FROM nodes
),
l0 AS (SELECT node, node AS label FROM nodes)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""
c{i} AS (
  SELECT e.t AS node, l.label, count(*) AS cnt
  FROM v e JOIN l{i - 1} l ON e.f = l.node
  GROUP BY 1, 2
),
b{i} AS (SELECT node, max(cnt) AS mc FROM c{i} GROUP BY node),
p{i} AS (
  SELECT c.node, min(c.label) AS label
  FROM c{i} c JOIN b{i} b ON c.node = b.node AND c.cnt = b.mc
  GROUP BY c.node
),
l{i} AS (
  SELECT n.node, coalesce(p.label, n.node) AS label
  FROM nodes n LEFT JOIN p{i} p ON n.node = p.node
)""")
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT node, label FROM l{n_iter}"
    )


def _aa_weight_nano(max_deg: int) -> dict[int, int]:
    """deg -> round(1e9 / ln(deg)) for 2 <= deg <= max_deg.

    Adamic-Adar sums 1/ln(deg(z)) over common neighbors z. Summing
    floats is order-dependent across engines, so the weight is
    pinned to an exact integer in nano units, computed ONCE here in
    Python and embedded as a literal lookup in BOTH engines — the
    aggregate is then an exact BIGINT sum regardless of order (the
    same nano-quantization discipline as the jsd oracle). The table
    is bounded by ``hub_cap`` (≤ a few hundred entries), so the
    literal map costs nothing.
    """
    import math

    return {
        d: int(math.floor(1e9 / math.log(d) + 0.5))
        for d in range(2, max_deg + 1)
    }


def link_prediction(
    edges: DataFrame,
    hub_cap: int = 40,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Link-prediction scores for non-adjacent node pairs of the
    undirected graph: ``common`` (common-neighbor count),
    ``adamic_adar`` (Σ 1/ln deg(z) over common neighbors z),
    ``jaccard`` (|N(a)∩N(b)| / |N(a)∪N(b)|) and ``pref_attach``
    (deg(a)·deg(b)). The crawl-discovery prior — "which un-linked
    page pairs are probably the same topic / about to link" — and
    the standard blocking signal for graph-assisted near-dup review.

    Execution shape, 100 TB lens: wedges are enumerated by
    self-joining the adjacency on the shared neighbor z, so the work
    is Σ_z deg(z)² — quadratic in HUB degree. The ``hub_cap`` filter
    drops wedge CENTERS with deg(z) > cap before the self-join, the
    principled AA mitigation (a hub's weight 1/ln(deg) is already
    ~0, and a z linking everybody predicts nothing); with it the
    wedge join is bounded by cap·|E| rows. Everything else is keyed
    joins + one hash-agg on the pair key; the anti-join against the
    existing edge set keeps only genuinely new candidate links.
    Float discipline: AA terms are exact nano-unit BIGINTs from a
    Python-pinned lookup (see :func:`_aa_weight_nano`); the only
    float ops are two final IEEE divisions, deterministic
    cross-engine.
    """
    if hub_cap < 2:
        raise ValueError("hub_cap must be >= 2")
    if min_common < 1:
        raise ValueError("min_common must be >= 1")
    adj = _symmetric(edges, src, dst)
    deg = adj.groupBy(F.col("_f").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    wmap = _aa_weight_nano(hub_cap)
    w_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in sorted(wmap.items()) for x in kv]
        ),
        F.col("deg").cast("int"),
    ).cast("long")
    wedge = (
        adj.join(deg, adj["_f"] == deg["node"])
        .filter((F.col("deg") >= 2) & (F.col("deg") <= hub_cap))
        .select(
            F.col("_f").alias("z"),
            F.col("_t").alias("nbr"),
            w_expr.alias("w_nano"),
        )
    )
    left = wedge.select(
        F.col("z"), F.col("nbr").alias("a"), F.col("w_nano")
    )
    right = wedge.select(F.col("z"), F.col("nbr").alias("b"))
    pairs = (
        left.join(right, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum("w_nano").alias("_aa_nano"),
        )
        .filter(F.col("common") >= min_common)
    )
    pairs = pairs.join(
        adj.select(F.col("_f").alias("a"), F.col("_t").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    return (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.col("common"),
            (F.col("_aa_nano").cast("double") / F.lit(1e9)).alias(
                "adamic_adar"
            ),
            (
                F.col("common").cast("double")
                / (F.col("_da") + F.col("_db") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
            (F.col("_da") * F.col("_db")).cast("long").alias(
                "pref_attach"
            ),
        )
    )


def oracle_link_prediction_sql(
    edges_sql: str,
    hub_cap: int = 40,
    min_common: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB twin of :func:`link_prediction` — identical wedge
    enumeration, the SAME Python-pinned nano-weight lookup (emitted
    as a CASE), and the same two IEEE divisions."""
    wmap = _aa_weight_nano(hub_cap)
    case = "CASE deg " + " ".join(
        f"WHEN {d} THEN CAST({w} AS BIGINT)"
        for d, w in sorted(wmap.items())
    ) + " END"
    return f"""
WITH {_symmetric_sql("adj", edges_sql, src, dst)},
deg AS (SELECT f AS node, count(*) AS deg FROM adj GROUP BY f),
wedge AS (
  SELECT a.f AS z, a.t AS nbr, {case} AS w_nano
  FROM adj a JOIN deg d ON d.node = a.f
  WHERE d.deg BETWEEN 2 AND {hub_cap}
),
pairs AS (
  SELECT l.nbr AS a, r.nbr AS b,
         CAST(count(*) AS BIGINT) AS common,
         CAST(sum(l.w_nano) AS BIGINT) AS aa_nano
  FROM wedge l JOIN wedge r ON l.z = r.z AND l.nbr < r.nbr
  GROUP BY 1, 2
  HAVING count(*) >= {min_common}
),
fresh AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (
    SELECT 1 FROM adj e WHERE e.f = p.a AND e.t = p.b
  )
)
SELECT f.a AS node_a, f.b AS node_b, f.common,
       CAST(f.aa_nano AS DOUBLE) / 1e9 AS adamic_adar,
       CAST(f.common AS DOUBLE)
         / CAST(da.deg + db.deg - f.common AS DOUBLE) AS jaccard,
       CAST(da.deg * db.deg AS BIGINT) AS pref_attach
FROM fresh f
JOIN deg da ON da.node = f.a
JOIN deg db ON db.node = f.b
"""


def _directed_reach(
    adj: DataFrame, seeds: DataFrame, k: int, reverse: bool = False
) -> DataFrame:
    """Bounded directed BFS (k_hop_reach's shape WITHOUT the
    symmetrization): distinct nodes reachable from ``seeds`` along
    edge direction (``reverse=True`` follows edges backwards) over a
    PREBUILT deduped ``(_f, _t)`` adjacency — the caller materializes
    it once and both BFS directions share it. Returns one ``node``
    column, seeds included."""
    f, t = ("_t", "_f") if reverse else ("_f", "_t")
    visited = seeds.select(
        F.col("node").cast("long").alias("node")
    ).distinct()
    frontier = visited
    for _ in range(k):
        nxt = (
            frontier.join(adj, frontier["node"] == adj[f])
            .select(F.col(t).alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return visited


def bowtie_census(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Seed-anchored bow-tie decomposition of the directed link graph
    (Broder et al., WWW 2000 "Graph structure in the Web"): with the
    trusted ``seeds`` standing in for the giant SCC, every node is
    labeled

    - ``core``  — reaches the seeds AND is reached from them (the
      mutually-connected heart; equals the seed SCC plus k-bounded
      round trips),
    - ``in``    — reaches the seeds but is not reached back (new or
      unendorsed pages linking in),
    - ``out``   — reached from the seeds but never links back
      (sinks: archives, leaf content, link farms' targets),
    - ``other`` — neither within ``k`` hops (tendrils/disconnected —
      at crawl scale, the isolation signal).

    The IN/OUT/CORE volume ratio is the classic crawl-health
    dashboard number; a corpus whose OUT share balloons is crawling
    into sinks. ``k`` bounds both BFS horizons (bounded-horizon
    contract, like :func:`k_hop_reach`).

    One row per graph node: ``(node, component)``.

    Execution shape, 100 TB lens: two independent k-round directed
    BFS passes over the SAME deduped adjacency (forward + reversed —
    keyed equi-joins, no quadratic shapes, per-round lineage
    truncation), then two left-join flag attachments and a CASE.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    # node universe from the RAW edges (a self-loop-only node exists
    # and must be labeled 'other'); null ids cannot be graph nodes
    nodes = graph_nodes(e).filter(F.col("node").isNotNull())
    # adjacency built ONCE, shared by both BFS directions
    adj = _edge_rule(edges, src, dst).distinct().localCheckpoint(eager=False)
    fwd = _directed_reach(adj, seeds, k).withColumn("_fw", F.lit(1))
    bwd = _directed_reach(adj, seeds, k, reverse=True).withColumn(
        "_bw", F.lit(1)
    )
    j = nodes.join(fwd, "node", "left").join(bwd, "node", "left")
    comp = (
        F.when(
            F.col("_fw").isNotNull() & F.col("_bw").isNotNull(), "core"
        )
        .when(F.col("_bw").isNotNull(), "in")
        .when(F.col("_fw").isNotNull(), "out")
        .otherwise("other")
    )
    return j.select("node", comp.alias("component"))


def oracle_bowtie_sql(
    edges_sql: str,
    seeds_sql: str,
    k: int = 6,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> str:
    """DuckDB twin of :func:`bowtie_census` — both directed BFS
    passes unrolled as CTEs, then the same CASE."""
    parts = [f"""
adj AS (
  SELECT DISTINCT CAST("{src}" AS BIGINT) AS f,
         CAST("{dst}" AS BIGINT) AS t
  FROM {edges_sql}
{_edge_rule_sql(src, dst)}
),
nodes AS (
  -- node universe from the RAW edges (Spark parity: a
  -- self-loop-only node exists and labels 'other')
  SELECT DISTINCT n FROM (
    SELECT CAST("{src}" AS BIGINT) AS n FROM {edges_sql}
    UNION ALL SELECT CAST("{dst}" AS BIGINT) FROM {edges_sql}
  ) WHERE n IS NOT NULL
),
s AS (SELECT DISTINCT CAST("{node}" AS BIGINT) AS n FROM {seeds_sql}),
fw0 AS (SELECT n FROM s),
bw0 AS (SELECT n FROM s)"""]
    for i in range(1, k + 1):
        parts.append(f"""
fw{i} AS (
  SELECT n FROM fw{i - 1}
  UNION
  SELECT adj.t FROM fw{i - 1} JOIN adj ON adj.f = fw{i - 1}.n
),
bw{i} AS (
  SELECT n FROM bw{i - 1}
  UNION
  SELECT adj.f FROM bw{i - 1} JOIN adj ON adj.t = bw{i - 1}.n
)""")
    return (
        "WITH " + ",".join(parts)
        + f"""
SELECT nodes.n AS node,
       CASE
         WHEN nodes.n IN (SELECT n FROM fw{k})
              AND nodes.n IN (SELECT n FROM bw{k}) THEN 'core'
         WHEN nodes.n IN (SELECT n FROM bw{k}) THEN 'in'
         WHEN nodes.n IN (SELECT n FROM fw{k}) THEN 'out'
         ELSE 'other'
       END AS component
FROM nodes"""
    )


def pagerank_weighted(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    n_iter: int = 10,
    damping: float = DEFAULT_DAMPING,
) -> DataFrame:
    """PageRank over a WEIGHTED edge table — the form a 100 TB link
    graph actually ships in: parallel edges pre-aggregated to
    ``(src, dst, weight)`` (`links.link_edges` output) instead of
    materialized one row per link. Semantically identical to
    :func:`pagerank` on the exploded multigraph (contribution =
    rank(u)·w(u,v)/Σ_v w(u,·); pytest pins the equivalence), at the
    aggregated table's cost — the per-iteration join touches one row
    per (src, dst) pair, not one per hyperlink.

    Same distributed shape as :func:`pagerank`: slim node/edge
    tables, 1-row N + dangling broadcasts, per-iteration
    localCheckpoint. Rows with NULL endpoints or non-positive weight
    are dropped (they carry no link mass).
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    e = _rank_edges(
        edges, src, dst, F.col(weight).cast("double").alias("w")
    ).filter(F.col("w") > 0)
    wout = e.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("w_out")
    )
    nodes, edges_w, has_out = _rank_inputs(
        e, wout, (F.col("w") / F.col("w_out")).alias("share")
    )
    n_total = nodes.agg(F.count(F.lit(1)).alias("_n"))  # 1 row
    return _power_iteration(
        edges_out=edges_w,
        has_out=has_out,
        base=nodes,
        consts=(n_total,),
        init=F.lit(1.0) / F.col("_n"),
        contrib=F.col("rank") * F.col("share"),
        teleport=F.lit(1.0 - damping) / F.col("_n"),
        dangle=F.col("_dm") / F.col("_n"),
        damping=damping,
        n_iter=n_iter,
    )


def oracle_pagerank_weighted_sql(
    edges_sql: str,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> str:
    """DuckDB twin of :func:`pagerank_weighted` — the same weighted
    iterations unrolled as CTEs."""
    parts = [f"""
pw_e AS (
  SELECT "{src}" AS src, "{dst}" AS dst,
         CAST("{weight}" AS DOUBLE) AS w
  FROM {edges_sql}
  WHERE "{src}" IS NOT NULL AND "{dst}" IS NOT NULL
    AND CAST("{weight}" AS DOUBLE) > 0
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM pw_e UNION ALL SELECT dst FROM pw_e
  )
),
pw_wout AS (SELECT src AS node, sum(w) AS w_out FROM pw_e GROUP BY src),
pw_ew AS (
  SELECT e.src, e.dst, e.w / wo.w_out AS share
  FROM pw_e e JOIN pw_wout wo ON wo.node = e.src
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes, nn)"""]
    for i in range(1, n_iter + 1):
        parts.append(f"""
c{i} AS (
  SELECT ew.dst AS node, sum(r.pr * ew.share) AS contrib
  FROM pw_ew ew JOIN r{i - 1} r ON ew.src = r.node
  GROUP BY ew.dst
),
dm{i} AS (
  SELECT coalesce(sum(r.pr), CAST(0 AS DOUBLE)) AS m
  FROM r{i - 1} r LEFT JOIN pw_wout d ON r.node = d.node
  WHERE d.node IS NULL
),
r{i} AS (
  SELECT nd.node,
         CAST({1.0 - DEFAULT_DAMPING} AS DOUBLE) / nn.n
         + CAST({DEFAULT_DAMPING} AS DOUBLE)
           * (coalesce(c.contrib, CAST(0 AS DOUBLE)) + dm{i}.m / nn.n)
           AS pr
  FROM nodes nd LEFT JOIN c{i} c ON nd.node = c.node, nn, dm{i}
)""")
    return (
        "WITH " + ",".join(parts)
        + f"\nSELECT node, pr AS rank FROM r{n_iter}"
    )
