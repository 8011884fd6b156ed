"""User-facing CLI: ``python -m med_doi_feature_extraction_spark``.

Spark re-build of the reference's typer CLI surface (``/root/
reference/src/cli/app.py:12-20``) — the commands a migrating user
runs today, composed from the engine's operators:

- ``run``      — ingest CSV/Parquet → reference record chain
                 (rename/key/extract/normalize/score/validate) → valid
                 results + failures manifest + session summary
                 (``commands_run.py:28-39`` semantics, set-at-a-time).
- ``test``     — ``run`` on a deterministic head sample, no writes;
                 prints sample rows + the quality report.
- ``retry``    — failure-driven incremental recompute: route by
                 category/max_retries, point-lookup input rows, re-run
                 the chain on survivors, split recovered / still-
                 failing (``commands_post.py:32-175``).
- ``validate`` — post-hoc confidence distribution + per-field coverage
                 over a finished run, one aggregation pass
                 (``commands_post.py:179-256``).
- ``curate``   — composable corpus curation (ordered --ops stages,
                 one lazily-composed plan riding a single write).
- ``export``   — terminal training-data export: curated docs →
                 BPE token ids → packed sequences + span table,
                 optional proportional-interleave pack order.
- ``pages``    — the flagship resumable pages→features pipeline
                 (delegates to manifest.run_partitioned;
                 tools/run_pipeline.py is its spark-submit shim).

Config files are reference-shaped YAML (column_map, fields with
choices/synonyms, input_signals, retry_plan) with include/env-var
resolution from plans.config.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F


def _load_ref_spec(path: str):
    from med_doi_feature_extraction_spark.plans.compile import RefPipelineSpec
    from med_doi_feature_extraction_spark.plans.config import (
        load_yaml_with_includes,
        substitute_env,
    )

    tree = substitute_env(load_yaml_with_includes(path))
    return RefPipelineSpec.model_validate(tree)


def _build_extractor(spec):
    """Deterministic extractor kernel from the field specs: copy a
    source column, or first regex match across regex_cols."""

    def apply(df):
        out = {}
        for name, fs in spec.fields.items():
            if fs.source:
                out[f"extracted_{name}"] = F.col(fs.source)
            elif fs.regex:
                cols = [
                    F.nullif(F.regexp_extract(F.col(c), fs.regex, 0), F.lit(""))
                    for c in (fs.regex_cols or [spec.complexity_column])
                    if c in df.columns
                ]
                out[f"extracted_{name}"] = (
                    F.coalesce(*cols) if cols else F.lit(None).cast("string")
                )
            else:
                out[f"extracted_{name}"] = F.lit(None).cast("string")
        return df.withColumns(out)

    return apply


def _completeness_confidence(spec):
    """Deterministic stand-in for the reference's model self-trust
    (P15): fraction of configured fields the extractor produced. With
    this, the validity gate actually bites — rows whose extraction
    came back empty fall below the threshold and land in failures."""
    if not spec.fields:
        return F.lit(1.0)
    present = [
        F.when(
            F.col(f"extracted_{name}").isNotNull()
            & (F.length(F.col(f"extracted_{name}").cast("string")) > 0),
            1.0,
        ).otherwise(0.0)
        for name in spec.fields
    ]
    total = present[0]
    for p in present[1:]:
        total = total + p
    return F.round(total / F.lit(float(len(present))), 6)


def _write(df, path: str, fmt: str) -> None:
    if fmt == "csv":
        df.write.mode("overwrite").option("header", True).csv(path)
    else:
        df.write.mode("overwrite").parquet(path)


def _failure_frame(quarantined, spec):
    """Failures manifest rows: (key, failure_category, retry_count) —
    the reference's failures_*.jsonl schema, join-ready for retry."""
    return quarantined.select(
        "key",
        F.coalesce(F.element_at("errors", 1), F.lit("unknown")).alias(
            "failure_category"
        ),
        F.lit(0).alias("retry_count"),
        F.col("confidence").alias("last_confidence"),
    )


def cmd_run(args) -> dict:
    from med_doi_feature_extraction_spark.audit import SessionAudit
    from med_doi_feature_extraction_spark.plans.compile import (
        apply_reference_chain,
    )
    from med_doi_feature_extraction_spark.session import get_spark
    from med_doi_feature_extraction_spark.sources.ingest import read_input

    spec = _load_ref_spec(args.config)
    spark = get_spark(f"ref_run_{spec.name}", master=args.master)
    df = read_input(
        spark,
        args.input,
        fmt=args.format,
        column_map=spec.column_map,
        id_column=spec.id_column,
        require_key=spec.require_key,
        skip=args.skip,
        limit=args.limit,
        order_by=[args.order_by] if (args.skip or args.limit is not None) else None,
    )
    chain = apply_reference_chain(
        df, spec, _build_extractor(spec),
        model_confidence=_completeness_confidence(spec),
    )
    audit = SessionAudit(args.run_id)
    chain = audit.attach(chain).localCheckpoint(eager=True)
    valid = chain.filter(F.col("valid")).drop("errors")
    quarantined = chain.filter(~F.col("valid"))

    sample = None
    if args.dry_run:
        sample = [r.asDict() for r in valid.limit(5).collect()]
        quarantined.limit(1).collect()  # force both branches for audit
    else:
        _write(valid, args.output, args.out_format)
        if args.failures:
            _write(_failure_frame(quarantined, spec), args.failures, "parquet")
    summary = audit.finalize()
    result = {
        "command": "test" if args.dry_run else "run",
        "pipeline": spec.name,
        "total": summary.total,
        "succeeded": summary.succeeded,
        "failed": summary.failed,
        "docs_per_sec": summary.docs_per_sec,
        "output": None if args.dry_run else args.output,
        "failures": None if args.dry_run else args.failures,
    }
    if sample is not None:
        result["sample"] = [
            {k: v for k, v in row.items() if not k.startswith("_")}
            for row in sample
        ]
    return result


def cmd_retry(args) -> dict:
    from med_doi_feature_extraction_spark.operators.retry import retry_failures
    from med_doi_feature_extraction_spark.plans.compile import (
        apply_reference_chain,
        coalesce_key,
    )
    from med_doi_feature_extraction_spark.session import get_spark
    from med_doi_feature_extraction_spark.sources.ingest import read_input

    spec = _load_ref_spec(args.config)
    spark = get_spark(f"ref_retry_{spec.name}", master=args.master)
    # checkpoint the failures BEFORE any write: the still-failing set
    # is rewritten over this same path below
    failures = spark.read.parquet(args.failures).localCheckpoint(eager=True)
    retried = int(failures.count())
    inp = read_input(spark, args.input, fmt=args.format)
    if spec.column_map:
        inp = inp.withColumnsRenamed(spec.column_map)
    inp = coalesce_key(inp, spec.id_column).filter(
        F.col("key").isNotNull() & (F.length("key") > 0)
    )

    def kernel(d):
        return apply_reference_chain(
            d, spec, _build_extractor(spec),
            model_confidence=_completeness_confidence(spec), shape_input=False,
        )

    recovered, still = retry_failures(
        failures, inp, "key", spec.retry_plan, kernel,
        default_max_retries=spec.default_max_retries,
    )
    recovered = recovered.localCheckpoint(eager=True)
    still = still.localCheckpoint(eager=True)
    n_rec, n_still = recovered.count(), still.count()
    _write(recovered.drop("errors"), args.output, args.out_format)
    _write(still, args.failures_out or args.failures, "parquet")
    return {
        "command": "retry",
        "retried": retried,
        "recovered": n_rec,
        "remaining": n_still,
        "recovery_rate_pct": round(100.0 * n_rec / retried, 1) if retried else 0.0,
        "output": args.output,
    }


def cmd_validate(args) -> dict:
    from med_doi_feature_extraction_spark.operators.report import validate_report
    from med_doi_feature_extraction_spark.session import get_spark

    spec = _load_ref_spec(args.config)
    spark = get_spark(f"ref_validate_{spec.name}", master=args.master)
    df = spark.read.parquet(args.input)
    fields = [
        f"normalized_{name}"
        for name in spec.fields
        if f"normalized_{name}" in df.columns
    ] or [c for c in df.columns if c.startswith("normalized_")]
    report = validate_report(df, fields)
    report["command"] = "validate"
    report["source"] = args.input
    return report


def cmd_pages(args) -> dict:
    """Flagship resumable pages→features pipeline (see
    manifest.run_partitioned; tools/run_pipeline.py is the spark-submit
    shim over this command). Completed buckets in the manifest are
    skipped; ``--no-resume`` wipes the manifest first."""
    from med_doi_feature_extraction_spark import fsutil
    from med_doi_feature_extraction_spark.manifest import run_partitioned
    from med_doi_feature_extraction_spark.pipeline import FeatureConfig
    from med_doi_feature_extraction_spark.plans.config import (
        ExecutionSpec,
        load_pipeline_spec,
        to_feature_config,
    )
    from med_doi_feature_extraction_spark.session import get_spark

    if args.config:
        spec = load_pipeline_spec(args.config, overrides={"run_id": args.run_id})
        cfg = to_feature_config(spec)
        execution = spec.execution
    else:
        cfg = FeatureConfig(run_id=args.run_id)
        execution = ExecutionSpec()
    n_buckets = (
        execution.n_buckets if args.n_buckets is None else args.n_buckets
    )
    chunk = execution.buckets_per_chunk
    spark = get_spark(f"pages_{args.run_id}", master=args.master)
    if args.no_resume:
        fsutil.delete(spark, args.manifest, recursive=True)
    pages = spark.read.parquet(args.input)
    dim = spark.read.parquet(args.dim) if args.dim else None
    records = run_partitioned(
        spark, pages, args.output, args.manifest,
        dim=dim, cfg=cfg, n_buckets=n_buckets, buckets_per_chunk=chunk,
    )
    return {
        "command": "pages",
        "run_id": args.run_id,
        "buckets_processed": len(records),
        "rows_out": sum(r.rows_out for r in records),
        "bytes_out": sum(r.bytes_out for r in records),
        "output": args.output,
        "manifest": args.manifest,
    }


def cmd_curate(args) -> dict:
    """Composable corpus-curation pass: ordered stages from --ops over
    a documents parquet (the curation surface as ONE lazily-composed
    Spark plan — stages only materialize at the final write, so e.g.
    ``pii,exact_dedup,sample`` is still a single job graph)."""
    from med_doi_feature_extraction_spark.operators.decontam import decontaminate
    from med_doi_feature_extraction_spark.operators.dedup import (
        dedup_decisions,
        exact_dedup,
        minhash_dedup,
    )
    from med_doi_feature_extraction_spark.operators.pii import pii_features
    from med_doi_feature_extraction_spark.operators.repetition import (
        repetition_features,
    )
    from med_doi_feature_extraction_spark.operators.sampling import (
        hash_sample,
        train_eval_split,
    )
    from med_doi_feature_extraction_spark.session import get_spark

    from pyspark.sql import Observation

    spark = get_spark("curate", master=args.master)
    df = spark.read.parquet(args.input)
    id_col, text_col = args.id_col, args.text_col
    # rows_in rides the single write action as a leading Observation —
    # no separate count() scan over the raw corpus (ADVICE r3)
    obs_in = Observation("curate_in")
    df = df.observe(obs_in, F.count(F.lit(1)).alias("rows"))
    applied = []
    stage_obs: list[tuple[str, Observation]] = []
    for op in [s.strip() for s in args.ops.split(",") if s.strip()]:
        if op == "pii":
            df = pii_features(df, text_col)
            if args.redact:
                df = df.withColumn(text_col, F.col("text_redacted")).drop(
                    "text_redacted"
                )
        elif op == "repetition":
            df = repetition_features(df, text_col)
            if args.max_dup_frac is not None:
                df = df.filter(F.col("dup_unit_frac") <= args.max_dup_frac)
        elif op == "exact_dedup":
            keep = exact_dedup(df, id_col, text_col).select(
                F.col("keep_id").alias(id_col)
            )
            df = df.join(keep, id_col, "left_semi")
        elif op == "minhash_dedup":
            pairs = minhash_dedup(
                df, id_col, text_col, threshold=args.jaccard
            )
            survivors = (
                dedup_decisions(df, id_col, pairs)
                .filter("keep")
                .select(F.col("doc_id").alias(id_col))
            )
            df = df.join(survivors, id_col, "left_semi")
        elif op == "paragraph_dedup":
            from med_doi_feature_extraction_spark.operators.paragraphs import (
                paragraph_dedup,
            )

            rebuilt = paragraph_dedup(df, id_col, text_col)
            df = (
                df.drop(text_col)
                .join(rebuilt, id_col)
                .withColumnRenamed("text_dedup", text_col)
            )
        elif op == "decontam":
            if not args.bench:
                raise SystemExit("--bench required for the decontam op")
            bench = spark.read.parquet(args.bench)
            report = decontaminate(
                df, bench, id_col, text_col,
                bench_text_col=args.bench_text_col or text_col,
                n=args.ngram, min_hits=args.min_hits,
            )
            clean = report.filter(~F.col("contaminated")).select(id_col)
            df = df.join(clean, id_col, "left_semi")
        elif op == "encoding":
            from med_doi_feature_extraction_spark.operators.encoding import (
                encoding_features,
            )

            df = encoding_features(df, text_col).filter(F.col("enc_clean"))
        elif op == "compress":
            from med_doi_feature_extraction_spark.kernels.compress import (
                compressibility_gate,
            )

            df = compressibility_gate(df, text_col).filter(
                F.col("comp_ok")
            )
        elif op == "gopher":
            from med_doi_feature_extraction_spark.operators.gopher import (
                gopher_gate,
            )

            df = (
                gopher_gate(df, text_col, min_words=args.min_words)
                .filter(F.col("gopher_keep"))
                .drop("fail_reasons", "gopher_keep")
            )
        elif op == "c4":
            from med_doi_feature_extraction_spark.operators.c4rules import (
                c4_clean,
            )

            df = (
                c4_clean(df, text_col, min_lines=args.min_lines)
                .filter(F.col("c4_keep"))
                .withColumn(text_col, F.col("clean_text"))
                .drop("clean_text", "c4_keep")
            )
        elif op == "classify":
            if not args.labels:
                raise SystemExit("--labels required for the classify op")
            from med_doi_feature_extraction_spark.operators.classifier import (
                nb_score,
                train_nb,
            )

            labeled = spark.read.parquet(args.labels)
            model = train_nb(
                labeled, args.label_text_col or text_col, args.label_col
            )
            scored = nb_score(df, model, id_col, text_col).select(
                id_col,
                F.col("predicted").alias("nb_class"),
                F.col("margin").alias("nb_margin"),
            )
            df = df.join(scored, id_col)
            if args.keep_class:
                df = df.filter(F.col("nb_class") == args.keep_class)
            if args.min_margin is not None:
                df = df.filter(F.col("nb_margin") >= args.min_margin)
        elif op == "admission":
            from med_doi_feature_extraction_spark.operators.admission import (
                web_admission_filter,
            )

            df = web_admission_filter(
                df,
                url_col=args.url_col,
                html_col=args.html_col,
                text_col=text_col,
                lang_col=args.lang_col,
            )
        elif op == "sample":
            df = hash_sample(df, id_col, args.sample_rate, salt=args.salt)
        elif op == "split":
            # NOT args.salt: sample and split must hash with different
            # salts or a sampled-then-split corpus has u(key) shared by
            # both filters and the eval side swallows min(1, ef/rate)
            # of the output instead of ef
            df = train_eval_split(
                df, id_col, eval_frac=args.eval_frac, salt=args.split_salt
            )
        else:
            raise SystemExit(f"unknown curation op: {op}")
        # per-stage row counters ride the single write action
        # (observe: task-side accumulation, zero extra jobs — the
        # audit-layer A1/A2 pattern)
        obs = Observation(f"curate_{len(applied)}_{op}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        stage_obs.append((op, obs))
        applied.append(op)
    out_cols = df.columns
    df.write.mode("overwrite").parquet(args.output)
    # rows_out = the LAST stage's observed count (or rows_in when no
    # stage applied) — the written rows, with zero re-read scans
    rows_after = [{"op": op, "rows": obs.get["rows"]} for op, obs in stage_obs]
    return {
        "command": "curate",
        "ops": applied,
        "rows_in": obs_in.get["rows"],
        "rows_after": rows_after,
        "rows_out": rows_after[-1]["rows"] if rows_after else obs_in.get["rows"],
        "columns": out_cols,
        "output": args.output,
    }


def cmd_export(args) -> dict:
    """Terminal export: curated documents parquet → BPE token ids →
    packed training rows (+ doc-span mask table) — ONE lazily-composed
    plan per output; the tokenizer seam is written once and both
    outputs derive from it. Optional --interleave-by orders packs by
    the proportional mixing key before the write (range partition +
    within-partition sort — the distributed total-order shape)."""
    from pyspark.sql import Observation

    from med_doi_feature_extraction_spark.kernels.bpe import (
        default_merges,
        tokenize_ids_udf,
    )
    from med_doi_feature_extraction_spark.operators.packing import (
        pack_sequences,
    )
    from med_doi_feature_extraction_spark.session import get_spark

    spark = get_spark("export", master=args.master)
    df = spark.read.parquet(args.input)
    id_col, text_col = args.id_col, args.text_col
    tok = tokenize_ids_udf(default_merges(args.n_merges))
    ids_path = f"{args.output}/ids.parquet"
    keep = [id_col] + ([args.interleave_by] if args.interleave_by else [])
    df.select(*keep, tok(text_col).alias("ids")).write.mode(
        "overwrite"
    ).parquet(ids_path)
    seam = spark.read.parquet(ids_path)
    packs, spans = pack_sequences(
        seam, id_col, "ids", budget=args.budget, n_shards=args.n_shards
    )
    if args.interleave_by:
        from med_doi_feature_extraction_spark.operators.sampling import (
            interleave_order,
        )

        weights = json.loads(args.interleave_weights)
        ordered_docs = interleave_order(
            seam, args.interleave_by, id_col, weights
        ).select(id_col, "interleave_key")
        # a pack inherits its FIRST document's mixing key (packs are
        # hash-ordered inside, the mixture governs pack order only)
        first = (
            spans.join(ordered_docs, spans["key"] == ordered_docs[id_col])
            .groupBy("pack_id")
            .agg(F.min("interleave_key").alias("interleave_key"))
        )
        packs = (
            packs.join(first, "pack_id", "left")
            .repartitionByRange(args.n_shards, "interleave_key")
            .sortWithinPartitions("interleave_key", "pack_id")
        )
    obs = Observation("export_packs")
    packs = packs.observe(
        obs,
        F.count(F.lit(1)).alias("packs"),
        F.sum("n_tokens").alias("tokens"),
    )
    packs.write.mode("overwrite").parquet(f"{args.output}/packs.parquet")
    spans.write.mode("overwrite").parquet(f"{args.output}/spans.parquet")
    return {
        "command": "export",
        "packs": obs.get["packs"],
        "tokens": obs.get["tokens"],
        "budget": args.budget,
        "output": args.output,
    }


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="med_doi_feature_extraction_spark")
    sub = ap.add_subparsers(dest="command", required=True)

    def common(p):
        p.add_argument("--config", required=True, help="pipeline YAML")
        p.add_argument("--master", default=None)
        p.add_argument("--format", default=None, help="input format override")

    run = sub.add_parser("run", help="ingest → extract → validate → write")
    common(run)
    run.add_argument("--input", required=True)
    run.add_argument("--output", required=True)
    run.add_argument("--failures", default=None)
    run.add_argument("--out-format", default="parquet", choices=["parquet", "csv"])
    run.add_argument("--skip", type=int, default=0)
    run.add_argument("--limit", type=int, default=None)
    run.add_argument("--order-by", default="key")
    run.add_argument("--run-id", default="cli")
    run.set_defaults(fn=cmd_run, dry_run=False)

    test = sub.add_parser("test", help="dry-run on a head sample")
    common(test)
    test.add_argument("--input", required=True)
    test.add_argument("--limit", type=int, default=5)
    test.add_argument("--order-by", default="key")
    test.add_argument("--run-id", default="cli-test")
    test.set_defaults(
        fn=cmd_run, dry_run=True, output=None, failures=None,
        out_format="parquet", skip=0,
    )

    retry = sub.add_parser("retry", help="re-run failed records")
    common(retry)
    retry.add_argument("--failures", required=True)
    retry.add_argument("--input", required=True)
    retry.add_argument("--output", required=True)
    retry.add_argument("--failures-out", default=None)
    retry.add_argument("--out-format", default="parquet", choices=["parquet", "csv"])
    retry.set_defaults(fn=cmd_retry)

    pages = sub.add_parser("pages", help="flagship resumable pages pipeline")
    pages.add_argument("--config", default=None)
    pages.add_argument("--master", default=None)
    pages.add_argument("--input", required=True)
    pages.add_argument("--dim", default=None)
    pages.add_argument("--output", required=True)
    pages.add_argument("--manifest", required=True)
    pages.add_argument("--run-id", default="cli-pages")
    pages.add_argument(
        "--n-buckets", type=int, default=None,
        help="overrides execution.n_buckets (default 64)",
    )
    pages.add_argument("--no-resume", action="store_true")
    pages.set_defaults(fn=cmd_pages)

    cur = sub.add_parser(
        "curate", help="composable corpus curation (dedup/pii/sample/...)"
    )
    cur.add_argument("--input", required=True)
    cur.add_argument("--output", required=True)
    cur.add_argument(
        "--ops", required=True,
        help="ordered comma list: admission,c4,gopher,pii,repetition,"
             "encoding,compress,exact_dedup,minhash_dedup,"
             "paragraph_dedup,decontam,classify,sample,split",
    )
    cur.add_argument("--url-col", default="url",
                     help="admission: URL column name")
    cur.add_argument("--html-col", default="html",
                     help="admission: raw HTML column name")
    cur.add_argument("--lang-col", default="lang",
                     help="admission: doc-language column name")
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")
    cur.add_argument("--master", default=None)
    cur.add_argument("--redact", action="store_true",
                     help="pii: replace text with the redacted form")
    cur.add_argument("--max-dup-frac", type=float, default=None,
                     help="repetition: drop docs above this dup fraction")
    cur.add_argument("--jaccard", type=float, default=0.7,
                     help="minhash_dedup verify threshold")
    cur.add_argument("--bench", default=None,
                     help="decontam: benchmark parquet path")
    cur.add_argument("--bench-text-col", default=None)
    cur.add_argument("--ngram", type=int, default=8)
    cur.add_argument("--min-hits", type=int, default=1)
    cur.add_argument("--min-words", type=int, default=50,
                     help="gopher: minimum word count bound")
    cur.add_argument("--min-lines", type=int, default=3,
                     help="c4: minimum surviving lines to keep a doc")
    cur.add_argument("--sample-rate", type=float, default=1.0)
    cur.add_argument("--eval-frac", type=float, default=0.01)
    cur.add_argument("--salt", default="", help="sample-op hash salt")
    cur.add_argument("--split-salt", default="split",
                     help="split-op hash salt (keep ≠ --salt)")
    cur.add_argument("--labels", default=None,
                     help="classify: labeled seed parquet (text+label)")
    cur.add_argument("--label-col", default="label")
    cur.add_argument("--label-text-col", default=None,
                     help="classify: text column in --labels "
                          "(default: --text-col)")
    cur.add_argument("--keep-class", default=None,
                     help="classify: drop docs not predicted this class")
    cur.add_argument("--min-margin", type=float, default=None,
                     help="classify: also require top-two margin ≥ this")
    cur.set_defaults(fn=cmd_curate)

    exp = sub.add_parser(
        "export", help="curated docs → token ids → packed training rows"
    )
    exp.add_argument("--input", required=True, help="curated docs parquet")
    exp.add_argument("--output", required=True)
    exp.add_argument("--id-col", default="doc_id")
    exp.add_argument("--text-col", default="text")
    exp.add_argument("--budget", type=int, default=4096)
    exp.add_argument("--n-shards", type=int, default=64)
    exp.add_argument("--n-merges", type=int, default=200)
    exp.add_argument("--master", default=None)
    exp.add_argument("--interleave-by", default=None,
                     help="source column for proportional pack order")
    exp.add_argument("--interleave-weights", default="{}",
                     help='JSON weights, e.g. {"en":0.7,"de":0.3}')
    exp.set_defaults(fn=cmd_export)

    val = sub.add_parser("validate", help="quality + coverage report")
    common(val)
    val.add_argument("--input", required=True, help="finished results path")
    val.set_defaults(fn=cmd_validate)
    return ap


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    result = args.fn(args)
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    main(sys.argv[1:])
