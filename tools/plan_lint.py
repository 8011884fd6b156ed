"""Mechanical plan lint over EVERY contract query.

PLANS.md argues each query's physical plan is scale-shaped; this tool
checks the arguable parts mechanically so the claims can't rot:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: quadratic joins.
  Allowed only where a documented contract makes the small side
  genuinely bounded (``ALLOW_NLJ``).
- ``Exchange SinglePartition`` feeding a Window/Sort: the
  everything-on-one-reducer shape (a 1-row aggregate reduced into
  SinglePartition is fine and excluded by pattern).
- ``BatchEvalPython``: row-at-a-time Python UDF in the plan (Arrow
  variants — ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
  FlatMapGroupsInPandasWithState — are the sanctioned slow path).
- round-robin ``Exchange`` whose nearest ``Exchange`` below it is also
  round-robin: a second parallelism floor (``session.spread``) over
  rows that already got one — a whole extra shuffle for nothing.

Usage: ``python tools/plan_lint.py [sf_dir] [names...]`` — defaults to
/root/testdata/sf0.01 and all queries. Exit 1 on any violation.
Side note: building some queries materializes their oracle seams
(parquet writes) — that's part of their contract and harmless here.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Documented bounded-small-side exceptions (see PLANS.md):
#  - cosine_topk / embedding ANN queries broadcast a bounded probe set
#    by contract (exact-baseline semantics);
#  - target_encode / quantile_bin / lm_quality crossJoin a ONE-ROW
#    global aggregate back onto the stream (global prior, percentile
#    bounds, LM normalizer) — a BroadcastNestedLoopJoin whose build
#    side is a single row is the correct physical plan for "attach a
#    global scalar", not a quadratic join.
ALLOW_NLJ = {
    "cosine_topk", "target_encode", "quantile_bin", "lm_quality",
    "sq_topk",  # same bounded broadcast-probe contract as cosine_topk
    "sq_rerank",  # pass 1 = sq_topk shape; pass 2 broadcasts the
    # bounded |Q|·k·expand candidate list
    "rank_eval",  # grades the sq_topk/cosine_topk probes — same
    # bounded broadcast-probe contract
    "vocab_shift",  # 1-row smoothing-totals broadcast, same pattern
    "ccnet_buckets",  # the lm_quality scoring stage inside it: the
    # same train_unigram_lm 1-row smoothing-totals crossJoin; the
    # bucketing stage itself is histogram + broadcast cutoffs
    "lm_bigram",  # same: crossJoin(broadcast(1-row totals)) in both
    # train_*_lm stages (operators/lm.py:63,168) — bounded by design
    "cms_join_size",  # contract-only 1-row est × 1-row truth compare
    # dsir: fit_hashed_dist crossJoins a 1-row gram-totals aggregate
    # (the smoothing normalizer) and dsir_logweights two 1-row floor
    # broadcasts — the same bounded attach-a-global-scalar pattern
    "dsir_weights", "dsir_select",
    # hll_overlap: the group-pairs cross (distinct groups × distinct
    # groups, a.grp < b.grp) — source spaces are mixture-sized, the
    # cross is bounded by contract; registers join via equi joins
    "hll_overlap",
    # snapshot_drift / drift_summary / editdist: the fixture
    # crossJoins a broadcast 3-row snapshot-index frame onto
    # documents to build the multi-snapshot corpus — build side is
    # exactly 3 rows
    "snapshot_drift", "drift_summary", "editdist",
    # pmi: 1-row unigram/bigram-totals broadcast (the ln(N) terms)
    "pmi",
    # kn_score: two 1-row broadcasts (N1+(··) continuation normalizer
    # in training, the continuation-floor aggregate in scoring) —
    # the same attach-a-global-scalar shape as lm_quality
    "kn_score",
    # logreg_gate: each unrolled GD iteration crossJoins the 1-row
    # weight frame (b,w1,w2) back onto features — the model is a
    # single broadcast row by construction (operators/logreg.py)
    "logreg_gate",
    # temp_rates / temp_sample: 1-row alpha-normalizer totals
    # broadcast (T5 temperature mixing), same attach-a-scalar shape
    "temp_rates", "temp_sample",
    # funnel_summary: 1-row grand-total crossJoin onto the
    # <= n_stages+1-row attribution table
    "funnel_summary",
    # web_admission_summary: the SAME funnel_summary machinery over
    # the 5-gate admission chain — 1-row total crossJoin onto a
    # <= 6-row attribution table (operators/admission.py)
    "web_admission_summary",
    # hard_negatives / hybrid_rrf: bounded broadcast probe/result
    # sets by contract (|Q| queries × k results), corpus-side never
    # on the build side — same contract as cosine_topk/rank_eval
    "hard_negatives", "hybrid_rrf",
    # psi_drift: the quantile_bin pattern — 1-row percentile-edges
    # broadcast onto both scans, then 1-row totals / psi_total
    # broadcasts onto the <= n_bins-row bin table
    "psi_drift",
    # ks_drift: 1-row n_a/n_b totals broadcast onto the
    # distinct-value cumsum frame (attach-a-global-scalar)
    "ks_drift",
    # chi2_tokens: 1-row label-totals broadcast onto the per-token
    # contingency table (attach-a-global-scalar)
    "chi2_tokens",
    # cramers_assoc: 1-row grand-total/level-count broadcast onto the
    # bounded contingency-cell table (attach-a-global-scalar)
    "cramers_assoc",
    # cohens_kappa: three 1-row aggregates (n / diagonal / marginal
    # product) crossJoined into the single output row
    "cohens_kappa",
    # bootstrap_ci: 1-row replicate-percentile aggregate crossJoined
    # onto the 1-row full-sample aggregate
    "bootstrap_ci",
    # theils_u: four 1-row entropy aggregates + the 1-row total
    # crossJoined into the single output row (cohens_kappa shape)
    "theils_u",
    # spearman: 1-row n broadcast crossJoined onto the bounded
    # (x, y) cell table (attach-a-global-scalar)
    "spearman",
    # jsd: 1-row totals broadcast onto the vocabulary-sized count
    # table (vocab_shift shape), then a 1-row final aggregate
    "jsd",
    # benford: 1-row total and 1-row chi2/mad aggregates crossJoined
    # onto the static 9-row digit frame
    "benford",
    # uniqueness: 1-row total broadcast onto the bounded
    # group-size-distribution table (attach-a-global-scalar)
    "uniqueness",
    # embed_cov: 1-row vector-count broadcast crossJoined onto the
    # bounded d(d+1)/2-row moment table (attach-a-global-scalar);
    # the corpus-sized work is the mapInPandas partial-Gram scan
    "embed_cov",
    # km_curve: 1-row corpus-horizon (max ts) broadcast crossJoined
    # onto the per-subject duration derivation — attach-a-global-
    # scalar; the KM estimator itself is equi-agg + bounded-grid
    # windows only
    "km_curve",
    # quantile_normalize: 1-row pooled-percentile-grid broadcast onto
    # the scan (the quantile_bin pattern)
    "quantile_normalize",
    # transitions: 1-row grand-total broadcast onto the bounded k^2
    # transition cell table (attach-a-global-scalar)
    "transitions",
    # table_diff: 1-row total broadcast onto the <=4-row status
    # census (attach-a-global-scalar)
    "table_diff",
    # session_paths: 1-row session-total broadcast onto the path
    # count table before the bounded top-k (attach-a-global-scalar)
    "session_paths",
    # cap_solver: 1-row totals broadcast onto the bounded group-size
    # breakpoint table, then a 1-row union/argmax
    "cap_solver",
    # neyman: 1-row totals/deficit/residual broadcasts onto the
    # bounded stratum table (attach-a-global-scalar, three times)
    "neyman",
    # triangles: three 1-row aggregates (node/wedge stats, edge
    # count, triangle count) crossJoined into the single output row
    "triangles",
    # vocab_growth: 1-row Heaps-fit aggregate crossJoined onto the
    # bounded bucket table (attach-a-global-scalar)
    "vocab_growth",
}

# SinglePartition is legitimate when the exchanged rowset is bounded:
#  - global aggregates reduced to one row (handled by pattern below);
#  - skip_limit / global_rank ORACLE is the single-reducer shape the
#    operator replaces — the operator itself is asserted
#    SinglePartition-free in pytest; the contract query returns a
#    deterministic small page via offset/limit (bounded output).
ALLOW_SINGLE = {
    "skip_limit", "length_quantiles",
    # funnel_summary: the cumulative-drop window runs over the
    # already-aggregated attribution table (<= n_stages+1 rows) —
    # a single partition of a handful of rows, not a corpus sort
    "funnel_summary",
    # web_admission_summary: same funnel_summary cumsum window over
    # the <= 6-row admission attribution table
    "web_admission_summary",
    # spearman: the average-rank cumulative-count window runs over
    # the per-value count tables (bounded by distinct values of the
    # quantized feature), never over the corpus rows
    "spearman",
    # cap_solver: the cumulative window runs over the bounded
    # distinct-group-size distribution, never over the corpus
    "cap_solver",
    # neyman: remainder-rank and capacity-cumsum windows run over the
    # bounded stratum table (strata are categorical), never the corpus
    "neyman",
    # vocab_growth: the cumulative window runs over the bounded
    # bucket table (<= n_buckets rows), never the corpus
    "vocab_growth",
}


def _double_spread(plan: str) -> bool:
    """True when a round-robin Exchange's nearest Exchange on some path
    below it is round-robin too. Tree depth is the width of the
    ``:``/``+-`` prefix Spark prints before each node."""
    nodes = []
    for ln in plan.splitlines():
        node = ln.lstrip(" :+-")
        nodes.append((len(ln) - len(node), node))
    for i, (depth, node) in enumerate(nodes):
        if not node.startswith("Exchange RoundRobinPartitioning"):
            continue
        below = None  # depth of the nearest Exchange being skipped
        for d, n in nodes[i + 1:]:
            if d <= depth:
                break
            if below is not None and d > below:
                continue
            below = None
            if re.match(r"(Broadcast|Reused)?Exchange\b", n):
                if n.startswith("Exchange RoundRobinPartitioning"):
                    return True
                below = d
    return False


def lint_plan(name: str, plan: str) -> list[str]:
    flags: list[str] = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in ALLOW_NLJ:
        flags.append("BroadcastNestedLoopJoin")
    if "BatchEvalPython" in plan:
        flags.append("BatchEvalPython(row-at-a-time UDF)")
    if _double_spread(plan):
        flags.append("RoundRobin->RoundRobin(double spread)")
    if name not in ALLOW_SINGLE:
        # SinglePartition exchange feeding a Sort/Window over data-sized
        # input. A global 1-row HashAggregate partial->final also goes
        # through SinglePartition — exclude exchanges directly under an
        # aggregate by requiring a Window/Sort within the next 2 lines.
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                ctx = "\n".join(lines[max(0, i - 2): i])
                if re.search(r"\b(Window|Sort)\b", ctx):
                    flags.append("SinglePartition->Window/Sort")
                    break
    return flags


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from med_doi_feature_extraction_spark.session import get_spark

    spark = get_spark("plan_lint")
    qs = entry.queries()
    names = sys.argv[2:] or list(qs)
    bad: dict[str, list[str]] = {}
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — report, don't halt the sweep
            bad[name] = [f"build-error: {exc}"[:200]]
            continue
        flags = lint_plan(name, plan)
        if flags:
            bad[name] = flags
        print(f"{name:28s} {'FLAG ' + ','.join(flags) if flags else 'ok'}")
    print(json.dumps({"violations": bad, "checked": len(names)}))
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
