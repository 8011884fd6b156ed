"""Dump formatted physical plans for the headline queries → PLANS.md.

The design-for-100× claims (html never crosses a shuffle, ONE
full-width exchange feeding the window stack, broadcast dims, streamed
LSH pair expansion, zero-exchange bucketed windows) are properties of
the PHYSICAL PLAN — this tool materializes them for review without
re-running the bench. Regenerate with::

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _formatted(df) -> str:  # noqa: ANN001
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    import __spark_entry__ as entrymod
    from med_doi_feature_extraction_spark.pipeline import (
        FeatureConfig,
        extract_stage,
        features_from_extracted,
        page_features,
    )
    from med_doi_feature_extraction_spark.session import get_spark
    from med_doi_feature_extraction_spark.sources.catalog import Catalog

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=8)

    pdir = Path(__file__).resolve().parent.parent / ".bench_data" / "sf0.1"
    sections: list[tuple[str, str, str]] = []

    if (pdir / "_DONE").exists():
        pages = spark.read.parquet(f"{pdir}/pages.parquet")
        dim = spark.read.parquet(f"{pdir}/dim_snapshots.parquet")
        flagship = page_features(pages, dim=dim, cfg=FeatureConfig(run_id="audit"))
        sections.append((
            "pages_pipeline (flagship)",
            "html decoded in the scan stage and pruned before the one "
            "full-width url exchange; as-of slim side derived from the raw "
            "scan (no UDF re-evaluation); dim side broadcast back.",
            _formatted(flagship),
        ))
        Catalog(spark).save_bucketed(
            extract_stage(pages).drop("text"),
            "plan_audit_ext", 8, ["url"], sort_cols=["url", "warc_ts"],
        )
        bucketed = features_from_extracted(
            spark.table("plan_audit_ext"), dim=dim,
            cfg=FeatureConfig(run_id="audit"), pre_partitioned=True,
        )
        sections.append((
            "windows_asof_bucketed (production layout)",
            "window stack over the bucketed materialized extract: ZERO "
            "exchanges feeding the windows — only the slim as-of dim side "
            "shuffles.",
            _formatted(bucketed),
        ))

    qs = entrymod.queries()
    for name, note in [
        ("minhash_neardup", "streamed two-stage pair expansion: two pipelined "
         "Generates after the band groupBy — no single-row combos array."),
        ("asof_join_sorted", "bucketed merge_asof build (applyInPandas) with "
         "left-salting."),
        ("tpch_q1", "straight partial-agg → exchange → final-agg; filter and "
         "column pruning pushed to the scan."),
        ("cosine_topk", "broadcast query side; corpus never replicated."),
        ("decontam", "bench n-gram set broadcast — the corpus gram stream "
         "itself never shuffles before the per-doc count agg (the "
         "round-robin repartition under Generate is session.spread fanning "
         "out the single-file LOCAL fixture; plan-time no-op on a real "
         "multi-file corpus scan)."),
        ("paragraph_dedup", "doc-prefixed posexplode → 8-byte-hash groupBy "
         "for global first-occurrence (aggregation, not a window over "
         "all occurrences) → per-doc rebuild."),
        ("token_df", "explode → hash-agg with map-side partial combine "
         "absorbing Zipf-skewed token keys."),
        ("tfidf_topk", "doc-id-prefixed tf keys (no skew); df side joined "
         "post-min_df prune, AQE owns the strategy."),
        ("stratified_sample", "sha256 filter rides the scan: no exchange, "
         "no UDF."),
        ("decontam_attrib", "attribution rides the SAME broadcast join as "
         "decontam — the probe rows carry capped sorted-prefix bench-id "
         "lists; still zero pre-agg corpus shuffle."),
        ("curate_e2e", "the whole curate stage stack as ONE plan: "
         "left-semi survivor joins chain off a single documents scan "
         "lineage; the only wide stages are the dedup aggs and the "
         "minhash-pairs seam."),
        ("nb_classify", "NB train+score: two hash-agg train passes, "
         "vocab-wide pivot, ONE broadcast scoring join, per-doc agg, "
         "spine join; class constants are plan literals."),
        ("sq_topk", "int8 quantization as Column algebra riding the "
         "scan; bounded broadcast probe side (ALLOW_NLJ contract)."),
        ("rank_eval", "results pre-filtered to rank<=k; (query,doc) "
         "join fan-out <= k; qrels-only ideal-DCG window; all "
         "reductions keyed by query id."),
        ("pack_scrub", "broadcast takedown ranges + indexed-transform "
         "mask: affected packs only, no corpus shuffle."),
        ("kmeans", "final Lloyd assignment: k dot-product folds as "
         "whole-stage codegen over the scan — zero exchanges, zero "
         "Python (fit-iteration jobs are explicit index-build actions "
         "with only k×dim rows collected)."),
        ("semantic_decontam", "bench matrix rides the Arrow UDF "
         "closure: ONE corpus scan, no joins, no shuffle."),
        ("hard_negatives", "query side broadcast, qrels broadcast "
         "into a left-anti; WindowGroupLimit runs BEFORE the window "
         "exchange, so only each partition's top-k candidates per "
         "query ever shuffle."),
        ("phash_pairs", "codec kernel → signature seam; banding, "
         "capped buckets and streamed pair expansion reuse the "
         "simhash physical shape verbatim."),
        ("robust_outliers", "two exact-percentile windows sharing "
         "ONE hash-partitioning exchange on the group key."),
        ("change_rate", "lag window and churn agg keyed identically "
         "— a single entity exchange end-to-end."),
        ("hybrid_rrf", "fusion input is |Q|·k·systems rows: union → "
         "one (query,doc) hash-agg → per-query window; the corpus "
         "appears only inside the two bounded retrieval subplans."),
        ("score_prop", "per-iteration edges⋈scores join + dst-keyed "
         "agg (pagerank's shape); anchors re-join on the node key."),
        ("trending", "explode → (bucket,token) hash-agg; the trailing "
         "window runs over the aggregated vocab table, not the "
         "corpus."),
        ("winnow_pairs", "per-doc fingerprinting is ONE codegen "
         "projection (gram/hash/window-minima/distinct) before the "
         "single explode; the self-join runs on the hot-capped "
         "fingerprint table only."),
        ("triangles", "degree-oriented wedge self-join (out-degree "
         "O(sqrt m) by orientation) closed by one equi semi-join — "
         "no OR-condition joins, no NLJ on the edge set."),
        ("session_funnel", "sessionize window + ONE per-session "
         "collect agg; the ordered-stage recurrence is array algebra "
         "on the session-grain frame, zero per-stage re-scans."),
        ("cap_solver", "corpus touched by exactly one hash-agg; all "
         "windows and joins run on the bounded distinct-size "
         "breakpoint table."),
        ("crawl_priority", "two slim per-entity inputs joined "
         "broadcast-style; all corpus-sized work happened inside the "
         "churn/authority subplans."),
        ("snapshot_drift", "tokenize once at the scan; the lag "
         "window moves the token ARRAY across ONE entity exchange; "
         "Jaccard is array_intersect codegen — no UDF, no second "
         "text pass."),
        ("feature_matrix", "N feature tables union into ONE spine "
         "exchange + one (ts, side) sort; one last(ignorenulls) "
         "column per feature — adding a feature adds a column, not "
         "a shuffle."),
        ("funnel_summary", "all gates evaluated in one codegen scan "
         "projection; the corpus-wide agg keys on first_failed "
         "(<= n_stages+1 groups, map-side partials); join + cumsum "
         "window run on the tiny aggregated frame."),
        ("pmi", "two explode→hash-agg passes with map-side partial "
         "combine absorbing Zipf heat; 1-row totals broadcast; "
         "min_count-pruned bigram probe joins the vocab build side "
         "twice (AQE owns broadcast-vs-shuffle); bounded "
         "TakeOrderedAndProject top-k."),
        ("cdc_dedup", "Arrow mapInPandas chunking rides the scan — "
         "the payload column never shuffles; only the 16-hex "
         "chunk_hash key crosses the two dedup-stat exchanges."),
        ("hits", "per half-step: edge⋈score join + endpoint "
         "hash-agg; L2 norms are 1-row broadcast aggregates; "
         "localCheckpoint truncates per-iteration lineage."),
        ("leakage_audit", "one codegen stack unpivot + one "
         "first_failed-style hash-agg — auditing N provenance "
         "columns costs a single scan."),
        ("logreg_gate", "per GD iteration: broadcast 1-row weights + "
         "one k+1-average full-scan aggregate (map-side partials); "
         "scoring is scan-stage sigmoid algebra under the broadcast "
         "model."),
        ("temp_sample", "one corpus hash-agg to group sizes, 1-row "
         "total + normalizer broadcast, bounded rates table "
         "broadcast back; the keep filter is a scan-stage "
         "sha256-uniform predicate — zero corpus shuffles."),
        ("jpeg_roundtrip", "knife-edge filter is scan-stage Column "
         "algebra (no exchange); the codec runs in ONE Arrow "
         "mapInPandas riding the filtered scan — encode+decode per "
         "row, no shuffle anywhere in the plan."),
        ("readability", "entire battery in ONE codegen span over the "
         "scan — the word array is computed once; no exchange, no "
         "UDF."),
        ("psi_drift", "1-row percentile-edges broadcast onto both "
         "snapshot scans (quantile_bin shape); the only aggregation "
         "keys on <= n_bins groups; totals/psi_total are 1-row "
         "broadcasts over that tiny frame."),
        ("ks_drift", "per-value hash-agg, then global_cumsum's "
         "range exchange + _pid-partitioned window (NO "
         "single-reducer window) + plan-literal offsets; the answer "
         "is a 1-row TakeOrderedAndProject."),
        ("mannwhitney_drift", "same per-value-counts + prefix-sum "
         "frame as ks_drift; midranks in exact doubled units fold "
         "into ONE 1-row aggregate."),
        ("chi2_tokens", "distinct-token explode → Zipf-absorbing "
         "hash-agg on token → 1-row label-totals broadcast → "
         "bounded TakeOrderedAndProject; corpus text never crosses "
         "a shuffle."),
        ("column_entropy", "stack melt multiplies rows x k BEFORE "
         "partial agg absorbs them into per-(column,value) counts; "
         "per-column totals join broadcast; entropy terms are "
         "BIGINT micro-units (no float-order sensitivity)."),
        ("pearson_matrix", "every pair's six moment sums in ONE "
         "full-scan 1-row aggregate — zero joins in the plan "
         "(pytest-pinned), zero shuffles beyond the 1-row merge."),
        ("cramers_assoc", "bounded contingency hash-agg; row/col "
         "marginals broadcast onto the tiny cell table; chi2 from "
         "observed cells only via the n + sum((o-e)^2/e - e) "
         "identity."),
        ("cohens_kappa", "three 1-row aggregates (n, diagonal, "
         "marginal product) crossJoined into the single output row."),
        ("bootstrap_ci", "n_boot weighted (sum w, sum w*x) pairs in "
         "ONE aggregate scan (map-side partials); the CI is an "
         "exact percentile over the n_boot-row replicate frame."),
        ("cls_report", "bounded confusion-cell hash-agg; truth/pred "
         "marginals broadcast; F1 is the single-division "
         "2tp/(2tp+fp+fn) identity."),
        ("calibration_bins", "bin assignment + per-row micro-unit "
         "score ride the scan; ONE hash-agg on <= n_bins groups."),
        ("roc_auc", "mannwhitney machinery on the label-split "
         "sides: per-value counts, range-exchange prefix sums, "
         "1-row AUC projection — the exact AUC with no corpus "
         "sort."),
        ("concentration", "per-group counts → global_row_number "
         "rank (range exchange + plan-literal offsets) → 1-row "
         "aggregate; Gini/HHI are exact-BIGINT identities reduced "
         "to one division each."),
        ("trend", "ONE corpus hash-agg of six BIGINT moment sums "
         "per entity; slope/intercept/R² are closed-form "
         "projections of the aggregate — no window, no join."),
        ("psi_by_lang", "per-group percentile edges are one bounded "
         "aggregate broadcast back; the corpus reduces through a "
         "(group, bin) hash-agg ≤ groups·n_bins rows."),
        ("theils_u", "bounded contingency + marginal broadcasts; "
         "four 1-row entropy aggregates crossJoined (allowlisted "
         "cohens_kappa shape)."),
        ("ccalign_pairs", "lang-strip + detect regexp chains ride "
         "the scan; per-(key,lang) min-struct hash-agg bounds join "
         "fanout to the 30-code lang table BEFORE the pivot-vs-rest "
         "shuffle equi-join — no corpus×corpus."),
        ("trap_features", "entire trap battery (array-lambda repeat "
         "probe included) in ONE codegen span on the scan — zero "
         "exchanges."),
        ("reciprocal_links", "self-join runs on the AGGREGATED host "
         "edge table (post link_edges hash-agg), never the page "
         "corpus; pair emitted once via host_a < host_b."),
        ("sitemap_entries", "block extract-all + explode with the "
         "xml payload pruned to (sitemap_url, is_index) before the "
         "generator — entry rows, not documents, are what survives."),
        ("web_admission", "five hygiene gates + first-failed CASE in "
         "ONE codegen projection — zero exchanges; html reduced to "
         "booleans at the scan."),
        ("trustrank", "pagerank's join shape with seed-restricted "
         "teleport: slim edge⋈deg⋈rank joins per iteration, 1-row "
         "dangling/seed-count broadcasts, localCheckpoint lineage "
         "truncation."),
        ("label_communities", "per LPA round: edge⋈label equi-join + "
         "two node-keyed hash-aggs (argmax = min(struct(-cnt,label))) "
         "+ left join to nodes; self-vote rows union'd once up "
         "front."),
        ("text_blocks", "block split + ONE posexplode in the scan "
         "stage; per-block features codegen; the neighbor-resolution "
         "window partitions by url — one document-keyed exchange."),
        ("main_content", "text_blocks plan + one url hash-agg "
         "(sorted-struct rebuild); html never crosses a shuffle."),
        ("zipf_fit", "explode → (group, token) hash-agg with map-side "
         "partials absorbing Zipf skew; micro-quantized BIGINT log "
         "terms fold in a <= groups-sized agg."),
        ("politeness", "both inputs per-host aggregates: two host "
         "hash-aggs for the specificity pick, AQE-broadcastable "
         "left join; zero corpus-sized exchanges."),
        ("mirrors", "(hash, host) distinct pairs → hot-hash cap "
         "semi-join BEFORE the self-join — bounded pair expansion; "
         "sizes from the uncapped table joined back per pair."),
        ("phrase_search", "scan-stage isin filter collapses the "
         "occurrence stream to the phrase terms; adjacency legs "
         "equi-join in one (doc, start) key space; doc hash-agg."),
        ("kn_score", "one corpus bigram hash-agg trains; "
         "vocab-bounded context/continuation tables broadcast; "
         "1-row floor/normalizer broadcasts (ALLOW_NLJ contract); "
         "per-doc agg keys on id."),
        ("headings_outline", "regexp_extract_all + posexplode in the "
         "scan; the outline stack = 5 last-of-level columns over ONE "
         "(url,pos) window — single document-keyed exchange."),
        ("template_census", "fingerprint = codegen sha256 at the "
         "scan; two domain-keyed hash-aggs; html dies at the first "
         "projection."),
        ("structured_data", "whole census is ONE codegen regexp "
         "battery — no exchange, no UDF, html pruned immediately."),
        ("bowtie", "two k-round DIRECTED BFS passes (forward + "
         "reversed) over ONE deduped adjacency — keyed equi-joins, "
         "per-round lineage truncation — then two flag joins + a "
         "CASE."),
        ("sitemap_coverage", "both sides collapse to DISTINCT slim "
         "url sets at the scan; one url equi-join; host-keyed "
         "hash-aggs + full-outer union."),
        ("link_churn", "one (src,ts,dst) distinct; per-page lag "
         "window (partition = one page's snapshots); one "
         "co-partitioned full-outer join feeding the (src,ts) agg."),
        ("canonical_chains", "pointer doubling: k self-joins of the "
         "slim (url,target) function table resolve 2^k-link chains; "
         "fixpoint check = one more left join."),
        ("robots_wildcards", "rule→regex compiled once per row on "
         "the broadcast rule table; per-URL match bounded by "
         "rules-per-host fan-out; longest-rule argmax as "
         "max(struct)."),
        ("surt_keys", "pure codegen key projection riding the scan — "
         "zero exchanges."),
        ("host_report", "six census signals in ONE scan projection "
         "(shared Column builders), then (host,fp) + host hash-aggs; "
         "ratio terms in order-free micro-unit BIGINTs."),
        ("weighted_quantiles", "per-(group,value) weight collapse "
         "FIRST (the Zipf absorber), then the cumulative window runs "
         "over the DISTINCT-value table only; one argmin agg per q."),
        ("ess", "ONE hash-agg of (n, sum w, sum w^2) per group; the "
         "ratio computed once per <= groups row."),
        ("lang_confusion", "lang_id is codegen Column algebra at the "
         "scan; the report is two bounded class-keyed hash-aggs + a "
         "broadcast join."),
        ("pagerank_weighted", "pagerank's join shape over the "
         "PRE-AGGREGATED (src,dst,weight) table — one row per edge "
         "pair, not per hyperlink; same 1-row broadcasts and "
         "per-iteration checkpoints."),
    ]:
        df = qs[name](spark, sf_dir)
        sections.append(
            (name, note, _formatted(df))
        )

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    # manual prose audits (the "## <query> (…r4)"-style sections the
    # build appends per round) live below the MANUAL marker and MUST
    # survive regeneration — only the generated plan dumps above the
    # marker are rewritten.
    marker = "<!-- MANUAL PLAN AUDITS (preserved by plan_audit.py) -->"
    manual = ""
    if out.exists():
        prev = out.read_text(encoding="utf-8")
        if marker in prev:
            manual = prev.split(marker, 1)[1]
    with out.open("w", encoding="utf-8") as fh:
        fh.write(
            "# PLANS — formatted physical plans of the headline queries\n\n"
            f"Generated by `python tools/plan_audit.py {sf_dir}` "
            "(regenerate after plan-affecting changes).\n"
        )
        for name, note, plan in sections:
            fh.write(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")
        fh.write(f"\n{marker}\n{manual}")
    spark.sql("DROP TABLE IF EXISTS plan_audit_ext")
    print(f"wrote {out} ({len(sections)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
