"""CSV ingestion source + CLI surface (run/test/retry/validate)."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.__main__ import main as cli_main
from med_doi_feature_extraction_spark.sources.ingest import read_input

CONFIG = "config/pipelines/doi_extract.yaml"


@pytest.fixture(scope="module")
def csv_fixture(tmp_path_factory):
    """Reference-shaped input CSV: quoted multiline abstracts, missing
    abstracts (→ low confidence), a row with no key (dropped)."""
    tmp = tmp_path_factory.mktemp("cli")
    rows = []
    for i in range(40):
        has_abs = i % 4 != 0  # 25% low-quality rows
        rows.append(
            {
                "doi_raw": f"10.1{i:03d}/key.{i}",
                "abstract_text": (
                    f'Line one of record {i}.\n"Quoted" see 10.9999/ref.{i} end. '
                    + "filler words " * 60
                    if has_abs
                    else ""
                ),
                "country_text": ["usa", "Deutschland", "France", "Nowhere"][i % 4],
            }
        )
    rows.append({"doi_raw": None, "abstract_text": "orphan", "country_text": "usa"})
    pdf = pd.DataFrame(rows)
    path = str(tmp / "input.csv")
    pdf.to_csv(path, index=False)
    # "fixed" input for retry: every abstract filled
    fixed = pdf.copy()
    fixed["abstract_text"] = fixed["abstract_text"].where(
        fixed["abstract_text"].astype(str).str.len() > 0,
        "Recovered abstract content. " + "more words " * 80,
    )
    fixed_path = str(tmp / "input_fixed.csv")
    fixed.to_csv(fixed_path, index=False)
    return {"tmp": tmp, "input": path, "fixed": fixed_path, "pdf": pdf}


def test_read_input_csv_shapes_rows(spark, csv_fixture):
    df = read_input(
        spark,
        csv_fixture["input"],
        column_map={"doi_raw": "DOI"},
        id_column="DOI",
        require_key=True,
    )
    pdf = df.toPandas()
    assert len(pdf) == 40  # null-key row dropped
    assert (pdf.key.str.contains("_")).all()  # '/' sanitized to '_'
    # multiline quoted fields survive the csv parse
    assert pdf.abstract_text.str.contains("\n").any()
    # all-string parity with the reference's dtype=str read
    assert dict(df.dtypes)["abstract_text"] == "string"


def test_read_input_skip_limit(spark, csv_fixture):
    df = read_input(
        spark, csv_fixture["input"], column_map={"doi_raw": "DOI"},
        id_column="DOI", require_key=True, skip=10, limit=5, order_by=["key"],
    )
    keys = [r.key for r in df.collect()]
    assert len(keys) == 5
    all_keys = sorted(
        r.key
        for r in read_input(
            spark, csv_fixture["input"], column_map={"doi_raw": "DOI"},
            id_column="DOI", require_key=True,
        ).collect()
    )
    assert keys == all_keys[10:15]
    with pytest.raises(ValueError, match="order_by"):
        read_input(spark, csv_fixture["input"], skip=1)


def test_cli_run_retry_validate_roundtrip(spark, csv_fixture, capsys):
    tmp = csv_fixture["tmp"]
    out = str(tmp / "results")
    fails = str(tmp / "failures")

    res = cli_main(
        [
            "run", "--config", CONFIG, "--input", csv_fixture["input"],
            "--output", out, "--failures", fails,
        ]
    )
    assert res["total"] == 40
    assert res["failed"] == 10  # the 25% empty-abstract rows
    assert res["succeeded"] == 30

    results = spark.read.parquet(out)
    assert results.count() == 30
    got = results.toPandas()
    assert (got.normalized_country.isin(["USA", "Germany", "France", "Nowhere"])).all()
    assert got.extracted_doi.notna().all()  # regex found the planted DOIs

    failures = spark.read.parquet(fails)
    assert failures.count() == 10
    assert set(failures.toPandas().failure_category) == {"low_confidence"}

    # retry against the FIXED input recovers everything eligible
    rec_out = str(tmp / "recovered")
    res2 = cli_main(
        [
            "retry", "--config", CONFIG, "--failures", fails,
            "--input", csv_fixture["fixed"], "--output", rec_out,
        ]
    )
    assert res2["retried"] == 10
    assert res2["recovered"] == 10
    assert res2["remaining"] == 0
    assert spark.read.parquet(rec_out).count() == 10
    # failures manifest rewritten in place
    assert spark.read.parquet(fails).count() == 0

    # validate report over the finished results
    rep = cli_main(["validate", "--config", CONFIG, "--input", out])
    assert rep["total"] == 30
    assert rep["low"] == 0 and rep["high"] + rep["medium"] == 30
    assert rep["coverage"]["normalized_doi"]["pct"] == 100.0
    assert rep["coverage"]["normalized_country"]["count"] == 30
    # stdout is machine-readable JSON lines
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    for line in lines:
        json.loads(line)


def test_cli_test_dry_run(spark, csv_fixture):
    res = cli_main(
        [
            "test", "--config", CONFIG, "--input", csv_fixture["input"],
            "--limit", "8",
        ]
    )
    assert res["total"] == 8
    assert 1 <= len(res["sample"]) <= 5
    assert "confidence" in res["sample"][0]


def test_cli_pages_subcommand(spark, tmp_path):
    from med_doi_feature_extraction_spark.sources.pages import (
        generate_dim_snapshots,
        generate_pages,
    )

    pdf = generate_pages(n_urls=40, seed=7)
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "pages"))
    spark.createDataFrame(generate_dim_snapshots(pdf, seed=8)).write.parquet(
        str(tmp_path / "dim")
    )
    res = cli_main(
        [
            "pages", "--input", str(tmp_path / "pages"),
            "--dim", str(tmp_path / "dim"),
            "--output", str(tmp_path / "feat"),
            "--manifest", str(tmp_path / "mf"),
            "--n-buckets", "4",
        ]
    )
    assert res["rows_out"] == len(pdf)
    assert spark.read.parquet(str(tmp_path / "feat")).count() == len(pdf)
    # resumable: a second invocation is a no-op
    res2 = cli_main(
        [
            "pages", "--input", str(tmp_path / "pages"),
            "--dim", str(tmp_path / "dim"),
            "--output", str(tmp_path / "feat"),
            "--manifest", str(tmp_path / "mf"),
            "--n-buckets", "4",
        ]
    )
    assert res2["buckets_processed"] == 0


def test_cli_pages_no_resume_reruns_every_bucket(spark, tmp_path):
    from med_doi_feature_extraction_spark.sources.pages import generate_pages

    pdf = generate_pages(n_urls=20, seed=9)
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "pages"))
    argv = [
        "pages", "--input", str(tmp_path / "pages"),
        "--output", str(tmp_path / "feat"),
        "--manifest", str(tmp_path / "mf"),
        "--n-buckets", "2",
    ]
    assert cli_main(argv)["buckets_processed"] == 2
    assert cli_main(argv)["buckets_processed"] == 0
    res = cli_main([*argv, "--no-resume"])
    assert res["buckets_processed"] == 2
    assert res["rows_out"] == len(pdf)
    assert spark.read.parquet(str(tmp_path / "feat")).count() == len(pdf)


def test_cli_pages_n_buckets_overrides_config(spark, tmp_path):
    """``--n-buckets`` overrides the spec's ``execution.n_buckets``."""
    from med_doi_feature_extraction_spark.manifest import CheckpointManifest
    from med_doi_feature_extraction_spark.sources.pages import generate_pages

    pdf = generate_pages(n_urls=20, seed=11)
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "pages"))
    res = cli_main(
        [
            "pages", "--config", "config/pipelines/pages_features.yaml",
            "--input", str(tmp_path / "pages"),
            "--output", str(tmp_path / "feat"),
            "--manifest", str(tmp_path / "mf"),
            "--n-buckets", "2",
        ]
    )
    assert res["rows_out"] == len(pdf)
    done = CheckpointManifest(spark, str(tmp_path / "mf")).done_buckets()
    assert done == {0, 1}


def test_cli_curate_subcommand(spark, tmp_path):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "mail me at bob@example.com for details"),
        (3, "totally unique text with no problems at all"),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "curated")
    res = cli_main(
        [
            "curate", "--input", src, "--output", out,
            "--ops", "pii,exact_dedup,split", "--redact",
            "--eval-frac", "0.5",
        ]
    )
    assert res["rows_in"] == 4
    assert res["rows_out"] == 3  # doc 1 deduped away
    # per-stage observe counters rode the single write action
    assert [r["op"] for r in res["rows_after"]] == ["pii", "exact_dedup", "split"]
    assert [r["rows"] for r in res["rows_after"]] == [4, 3, 3]
    got = spark.read.parquet(out)
    by_id = {r["doc_id"]: r for r in got.collect()}
    assert 1 not in by_id  # min-id survivor kept
    assert "<EMAIL>" in by_id[2]["text"]  # --redact swapped the text
    assert by_id[2]["email_count"] == 1
    assert set(r["split"] for r in by_id.values()) <= {"train", "eval"}
    assert "split" in got.columns


def test_cli_curate_sample_then_split_decorrelated(spark, tmp_path):
    """sample and split must not share a hash salt: with the shared
    default the eval side would swallow min(1, eval_frac/rate) of the
    sampled output (every surviving key hashes under the rate)."""
    src = str(tmp_path / "docs_ss")
    spark.range(2000).selectExpr(
        "id as doc_id", "concat('text ', id) as text"
    ).write.parquet(src)
    out = str(tmp_path / "curated_ss")
    res = cli_main(
        [
            "curate", "--input", src, "--output", out,
            "--ops", "sample,split",
            "--sample-rate", "0.05", "--eval-frac", "0.05",
        ]
    )
    got = spark.read.parquet(out)
    n = res["rows_out"]
    n_eval = got.filter("split = 'eval'").count()
    # correlated salts would make n_eval == n; decorrelated ≈ 5%
    assert n > 0
    assert n_eval < n / 2, (n_eval, n)


def test_cli_curate_encoding_and_compress_ops(spark, tmp_path):
    """The r4 quality gates compose into the curate plan: encoding
    drops mojibake/control-damaged docs, compress drops the
    repetitive-spam low tail, and both still ride the single write."""
    rows = [
        (0, "clean prose with enough variety to compress normally ok"),
        (1, "itâ€™s a cafÃ© with mojibake artifacts everywhere here"),
        (2, "buy cheap buy cheap " * 40),  # deflate low tail
        (3, "another perfectly ordinary sentence about gardens and tea"),
    ]
    src = str(tmp_path / "docs_enc")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "curated_enc")
    res = cli_main(
        [
            "curate", "--input", src, "--output", out,
            "--ops", "encoding,compress",
        ]
    )
    assert res["rows_in"] == 4
    assert [r["op"] for r in res["rows_after"]] == ["encoding", "compress"]
    assert [r["rows"] for r in res["rows_after"]] == [3, 2]
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {0, 3}


def test_cli_curate_c4_and_gopher_ops(spark, tmp_path):
    """The structural gates compose into the curate plan: c4 rebuilds
    docs from prose lines and drops line-starved docs, gopher drops
    word-stat failures — filter-early ordering ahead of any dedup."""
    prose = (
        "The results have shown that better data be stronger.\n"
        "And that careful filtering of the corpus can help a lot.\n"
        "Quality gates have to run with the scan, not after it."
    )
    rows = [
        (0, prose),
        (1, prose + "\nPlease enable javascript for this site now."),
        (2, "no punctuation lines here\nnot one of them ends right"),
        (3, "# # # # " + prose.replace("\n", " ")),  # symbol spam, 1 line
    ]
    src = str(tmp_path / "docs_c4g")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(src)
    out = str(tmp_path / "curated_c4g")
    res = cli_main(
        [
            "curate", "--input", src, "--output", out,
            "--ops", "c4,gopher", "--min-lines", "2", "--min-words", "10",
        ]
    )
    assert res["rows_in"] == 4
    assert [r["op"] for r in res["rows_after"]] == ["c4", "gopher"]
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    # doc 2: no line survives the prose predicate; doc 3: one line
    # survives but min_lines=2 — both dropped at the c4 stage
    assert [r["rows"] for r in res["rows_after"]] == [2, 2]
    assert set(got) == {0, 1}
    # the javascript line was structurally removed from doc 1's text
    assert "javascript" not in got[1]["text"]
    assert got[1]["text"] == got[0]["text"] == prose
    # gopher stats columns rode through for audit
    assert got[0]["n_words"] >= 10 and got[0]["alpha_frac"] > 0.9


def test_cli_export_subcommand(spark, tmp_path):
    """The terminal export: docs -> token ids -> packed rows + spans,
    with the proportional interleave governing pack order."""
    rows = [
        (i, "the quick brown fox jumps over the lazy dog again", "en")
        for i in range(30)
    ] + [
        (100 + i, "der schnelle braune fuchs springt heute hoch", "de")
        for i in range(30)
    ]
    src = str(tmp_path / "docs_exp")
    spark.createDataFrame(rows, ["doc_id", "text", "lang"]).write.parquet(src)
    out = str(tmp_path / "exported")
    res = cli_main(
        [
            "export", "--input", src, "--output", out,
            "--budget", "64", "--n-shards", "2", "--n-merges", "60",
            "--interleave-by", "lang",
            "--interleave-weights", '{"en": 0.5, "de": 0.5}',
        ]
    )
    assert res["packs"] > 0 and res["tokens"] > 0
    packs = spark.read.parquet(f"{out}/packs.parquet")
    spans = spark.read.parquet(f"{out}/spans.parquet")
    # every pack is full except at most one partial per shard
    from pyspark.sql import functions as SF
    partial = packs.filter(SF.col("n_tokens") != 64).count()
    assert partial <= 2
    # spans reference real packs and tile token counts exactly
    tok_by_spans = spans.groupBy().agg(SF.sum("len")).first()[0]
    assert tok_by_spans == res["tokens"]
    assert "interleave_key" in packs.columns


def test_cli_curate_classify_op(spark, tmp_path):
    """The NB model gate composes into the curate plan: trained on a
    labeled seed parquet, docs predicted outside --keep-class (or
    inside but under --min-margin) are dropped, and nb_class/nb_margin
    ride the output columns for downstream audit."""
    from med_doi_feature_extraction_spark.kernels.lang_trigram import (
        generate_lang_corpus,
    )

    seed = generate_lang_corpus(300, 777)
    seed["label"] = (seed["lang"] == "en").map({True: "keep", False: "toss"})
    labels = str(tmp_path / "labels")
    spark.createDataFrame(seed[["text", "label"]]).write.parquet(labels)

    docs_pdf = generate_lang_corpus(60, 888)
    src = str(tmp_path / "docs_cls")
    spark.createDataFrame(
        docs_pdf[["doc_id", "lang", "text"]]
    ).write.parquet(src)

    out = str(tmp_path / "curated_cls")
    res = cli_main(
        [
            "curate", "--input", src, "--output", out,
            "--ops", "classify",
            "--labels", labels, "--keep-class", "keep",
        ]
    )
    got = spark.read.parquet(out)
    kept = got.collect()
    assert res["rows_out"] == len(kept) > 0
    assert set(r["nb_class"] for r in kept) == {"keep"}
    # the generator's English docs should dominate the kept set
    en_frac = sum(1 for r in kept if r["lang"] == "en") / len(kept)
    assert en_frac > 0.8, en_frac
    # margin floor tightens the gate monotonically
    res2 = cli_main(
        [
            "curate", "--input", src, "--output", str(tmp_path / "c2"),
            "--ops", "classify",
            "--labels", labels, "--keep-class", "keep",
            "--min-margin", "0.5",
        ]
    )
    assert res2["rows_out"] <= res["rows_out"]
