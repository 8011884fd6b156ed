"""The benchmark's workloads.

Each workload has these parts, called in this order by ``run.py``:

- ``prepare`` (no Spark): generate or load the seeded inputs and the
  per-seed references that need no Spark;
- ``op(i)``: one closed-loop operation, timed; returns the latencies of the
  committed steps ("chunks") inside it. Operations run back to back in a
  fresh JVM right after the set-ups;
- ``check_op(i)``: output checks of operation ``i``, untimed, after all
  operations; returns a list of failure messages.

Traced runs add ``probes()`` (untimed spans around single public calls)
and ``layers(log, n_ops)``, which reads the event log into per-layer
figures. Every operation's Spark jobs run under a job group starting with
``op:``, so the event log can tell them from set-up and probe jobs.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow.dataset as ds

import gen
from harness import SHUFFLE_PARTITIONS, digest, median, now, tail

SPEC = json.loads((Path(__file__).resolve().parent / "spec.json").read_text())


def _noop(df) -> None:  # noqa: ANN001
    df.write.mode("overwrite").format("noop").save()


def _read_output(path: Path):
    """Partitioned parquet output as pandas (hive partition column dropped)."""
    table = ds.dataset(str(path), format="parquet", partitioning="hive").to_table()
    if "url_bucket" in table.column_names:
        table = table.drop(["url_bucket"])
    return table.to_pandas()


def _feature_rows(df):  # noqa: ANN001
    """Feature frame without the run-dependent lineage partition id."""
    df = df.copy()
    df["lineage"] = [
        {k: v for k, v in (x or {}).items() if k != "partition_id"} for x in df["lineage"]
    ]
    return df


class Workload:
    name = ""

    def __init__(self, run_dir: Path, cache: Path, seed: int, tracer) -> None:  # noqa: ANN001
        self.run_dir = run_dir
        self.cache = cache
        self.seed = seed
        self.tr = tracer
        self.spark = None
        self.rows = 0

    def bind(self, spark) -> None:  # noqa: ANN001
        self.spark = spark

    def prepare(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> list[float]:
        raise NotImplementedError

    def check_op(self, i: int) -> list[str]:
        raise NotImplementedError

    def probes(self) -> None:
        pass

    def layers(self, log, n_ops: int) -> dict[str, float]:  # noqa: ANN001
        return {}

    def info(self) -> dict:
        return {}


# ---------------------------------------------------------------- pages

class PagesResumable(Workload):
    """manifest.run_partitioned into a fresh output and manifest with a
    crash injected after half the chunks, then the resume."""

    name = "pages_resumable"

    def prepare(self) -> None:
        self.dir = gen.pages(self.cache, self.seed)
        self.meta = gen.meta(self.dir)
        self.rows = self.meta["rows"]
        self.truth = None
        self.ref = None
        self.crashed: set[int] = set()
        self.all_windows: list[tuple[float, float]] = []

    def _frames(self):
        from med_doi_feature_extraction_spark.pipeline import FeatureConfig

        pages = self.spark.read.parquet(str(self.dir / "pages"))
        dim = self.spark.read.parquet(str(self.dir / "dim.parquet"))
        return pages, dim, FeatureConfig(run_id="perfbench")

    def _run(self, out: Path, man: Path, fail_after: int | None, per_chunk: int):
        from med_doi_feature_extraction_spark.manifest import run_partitioned

        pages, dim, cfg = self._frames()
        return run_partitioned(
            self.spark, pages, str(out), str(man), dim=dim, cfg=cfg,
            n_buckets=SPEC["pages"]["n_buckets"], buckets_per_chunk=per_chunk,
            fail_after_chunks=fail_after,
        )

    def _reference(self) -> tuple[str, list[str]]:
        """Digest of a clean run (no crash, all buckets in one chunk), run
        once per seed after the timed operations and cached."""
        ref = self.dir / "reference"
        if not (ref / "_DONE").exists():
            shutil.rmtree(ref, ignore_errors=True)
            self._run(ref, self.run_dir / "reference_manifest", None, SPEC["pages"]["n_buckets"])
            (ref / "_DONE").write_text("ok")
        df = _feature_rows(_read_output(ref))
        return digest(df, list(df.columns)), list(df.columns)

    def op(self, i: int) -> list[float]:
        from med_doi_feature_extraction_spark.manifest import InjectedFailure

        p = SPEC["pages"]
        out, man = self.run_dir / f"out{i}", self.run_dir / f"manifest{i}"
        try:
            self._run(out, man, p["fail_after_chunks"], p["buckets_per_chunk"])
        except InjectedFailure:
            self.crashed.add(i)
        self._run(out, man, None, p["buckets_per_chunk"])
        windows = sorted({(r["t_start"], r["t_end"]) for r in self._records(man)})
        self.all_windows.extend(windows)
        return [e - s for s, e in windows]

    def _records(self, man: Path) -> list[dict]:
        from med_doi_feature_extraction_spark.manifest import CheckpointManifest

        return CheckpointManifest(self.spark, str(man)).records()

    def check_op(self, i: int) -> list[str]:
        import pandas as pd

        from med_doi_feature_extraction_spark.manifest import CheckpointManifest

        out, man = self.run_dir / f"out{i}", self.run_dir / f"manifest{i}"
        if self.ref is None:
            self.ref, self.ref_cols = self._reference()
        errs = [] if i in self.crashed else ["injected crash did not fire"]
        recs = [r for r in self._records(man) if r["status"] == "done"]
        done = sorted(r["url_bucket"] for r in recs)
        if done != list(range(SPEC["pages"]["n_buckets"])):
            errs.append(f"done buckets are not each bucket once: {done}")
        rows_out = sum(r["rows_out"] for r in recs)
        if rows_out != self.rows:
            errs.append(f"manifest rows_out {rows_out} != input rows {self.rows}")
        df = _read_output(out)
        if len(df) != self.rows:
            errs.append(f"output rows {len(df)} != input rows {self.rows}")
        got = digest(_feature_rows(df), self.ref_cols)
        if got != self.ref:
            errs.append(f"output digest {got} != clean-run digest {self.ref}")
        if self.truth is None:
            self.truth = pd.read_parquet(self.dir / "truth.parquet")
        j = self.truth.merge(
            df[["url", "warc_ts", "text_extracted"]], on=["url", "warc_ts"], how="left"
        )
        has = j["text"].notna()
        bad = int((j.loc[has, "text"] != j.loc[has, "text_extracted"]).sum())
        if bad:
            errs.append(f"{bad} rows with text_extracted != text")
        # sink shape and resume-read cost, from this operation's output
        self.files_out = sum(1 for _ in out.rglob("*.parquet"))
        self.bytes_per_row = sum(r["bytes_out"] for r in recs) / max(1, rows_out)
        for _ in range(3):
            with self.tr.span("check:done_buckets"):
                CheckpointManifest(self.spark, str(man)).done_buckets()
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(man, ignore_errors=True)
        return errs

    # ---- traced run
    def probes(self) -> None:
        from pyspark.sql import functions as F

        from med_doi_feature_extraction_spark.operators.asof import asof_join_window
        from med_doi_feature_extraction_spark.pipeline import (
            extract_stage,
            features_from_extracted,
            window_stage,
        )
        from med_doi_feature_extraction_spark.sources.catalog import Catalog

        pages, dim, cfg = self._frames()
        with self.tr.span("probe:extract_stage"):
            _noop(extract_stage(pages))
        ext_path = self.run_dir / "probe_ext"
        extract_stage(pages).drop("text").write.mode("overwrite").parquet(str(ext_path))
        ext = self.spark.read.parquet(str(ext_path))
        with self.tr.span("probe:window_stage"):
            _noop(window_stage(ext.repartition(SHUFFLE_PARTITIONS, "url"), cfg))
        slim = pages.select("url", "warc_ts", F.parse_url("url", F.lit("HOST")).alias("domain"))
        with self.tr.span("probe:asof_join_window"):
            _noop(
                asof_join_window(
                    slim, dim, "domain", "warc_ts", "obs_ts",
                    list(cfg.dim_value_cols), right_tiebreak=list(cfg.dim_tiebreak),
                )
            )
        # read path: features over a url-bucketed extract table, no UDF
        with self.tr.span("probe:save_bucketed"):
            Catalog(self.spark).save_bucketed(
                extract_stage(pages).drop("text"), "perfbench_ext",
                SPEC["pages"]["bucketed_buckets"], ["url"], sort_cols=["url", "warc_ts"],
            )
        for _ in range(3):
            with self.tr.span("probe:features_bucketed"):
                _noop(
                    features_from_extracted(
                        Catalog(self.spark).load("perfbench_ext"), dim=dim, cfg=cfg,
                        pre_partitioned=True,
                    )
                )

    def layers(self, log, n_ops: int) -> dict[str, float]:  # noqa: ANN001
        tr = self.tr
        # Spark job time inside each chunk's commit window
        job_s = [
            sum(
                je - js
                for j, (js, je) in log.job_times.items()
                if log.job_group.get(j, "").startswith("op:") and s <= js and je <= e
            )
            for s, e in self.all_windows
        ]
        return {
            "sources.scan_s": log.sql_metric("op:", "Scan", "scan time") / n_ops,
            # file bytes each scan opened (task "Bytes Read" misses local reads)
            "sources.scan_amplification": log.sql_metric("op:", "Scan", "size of files read")
            / (self.meta["table_bytes"] * n_ops),
            "pipeline.extract_stage_s": median(tr.seconds("probe:extract_stage")),
            "pipeline.window_stage_s": median(tr.seconds("probe:window_stage")),
            "operators.asof.asof_join_window_s": median(tr.seconds("probe:asof_join_window")),
            "operators.windows.sort_s": log.sql_metric("op:", "Sort", "sort time") / n_ops,
            "operators.windows.spill_bytes": log.sql_metric("op:", "Sort", "spill size") / n_ops,
            "manifest.chunk_s": median([e - s for s, e in self.all_windows]),
            "manifest.chunk_tail_s": tail([e - s for s, e in self.all_windows])[0],
            "manifest.write_s": median(job_s),
            "manifest.bytes_out_per_row": self.bytes_per_row,
            "manifest.files_out": float(self.files_out),
            "manifest.done_buckets_s": median(tr.seconds("check:done_buckets")),
            "sources.catalog.save_bucketed_s": median(tr.seconds("probe:save_bucketed")),
            "pipeline.features_bucketed_s": median(tr.seconds("probe:features_bucketed")),
            "kernels.bucketed_python_run_s": log.sql_metric(
                "probe:features_bucketed", "ArrowEvalPython", "time to run Python workers"
            ),
        }


# ---------------------------------------------------------------- docs

FAMILIES = ("dedup", "lm", "dsir", "corpus_stats")


class DocsCorpus(Workload):
    """dedup, lm, dsir and corpus_stats operators over an open-vocabulary
    corpus; each family is built, then executed into the driver."""

    name = "docs_corpus"

    def prepare(self) -> None:
        self.dir = gen.documents(self.cache, self.seed)
        self.meta = gen.meta(self.dir)
        self.rows = self.meta["rows"]
        planted = json.loads((self.dir / "planted.json").read_text())
        self.planted = {tuple(sorted(p)) for p in planted}
        self.refs = self._references()
        self.fam_s: dict[str, list[float]] = {f: [] for f in FAMILIES}
        self.outs: dict[int, dict] = {}
        self.recall = None

    def _docs(self):
        return self.spark.read.parquet(str(self.dir / "docs.parquet"))

    def _build(self, fam: str, docs) -> dict:  # noqa: ANN001
        from pyspark.sql import functions as F

        from med_doi_feature_extraction_spark.operators import corpus_stats, dedup, dsir, lm

        c = SPEC["docs"]
        if fam == "dedup":
            new = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0)
            old = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(5)) != 0)
            return {
                "full": dedup.minhash_dedup(docs, "doc_id", "text", threshold=c["threshold"]),
                "incremental": dedup.incremental_minhash_dedup(
                    new, old, "doc_id", "text", threshold=c["threshold"]
                ),
            }
        if fam == "lm":
            bg, cx, co = lm.train_kn_bigram_lm(docs, "text")
            out = lm.kn_quality_score(docs, bg, cx, co, "doc_id", "text")
            return {
                "kn": out.select(
                    "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                    "logp_per_token", "ppl",
                )
            }
        if fam == "dsir":
            w = dsir.dsir_logweights_fused(
                docs, "doc_id", "text", F.col("lang") == "en", dim=c["dsir_dim"]
            )
            return {
                "dsir": dsir.dsir_select(w, c["dsir_k"], tau=c["dsir_tau"]).select(
                    "doc_id", "logw", "gumbel_key"
                )
            }
        bm = corpus_stats.bm25_score(docs, "doc_id", "text", list(gen.QUERY_TERMS))
        tf = corpus_stats.tfidf_topk(docs, "doc_id", "text", k=c["tfidf_k"], min_df=2)
        return {
            "bm25": bm,
            "tfidf": tf.select(
                "doc_id", "token", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"), "tfidf",
            ),
        }

    def _family(self, fam: str, docs, group: str, tag: str) -> tuple[dict, float]:  # noqa: ANN001
        with self.tr.span(f"{group}:{fam}:build:{tag}") as b:
            frames = self._build(fam, docs)
        with self.tr.span(f"{group}:{fam}:exec:{tag}") as x:
            outs = {k: f.toPandas() for k, f in frames.items()}
        return outs, b.seconds + x.seconds

    def op(self, i: int) -> list[float]:
        docs = self._docs()
        self.outs[i], steps = {}, []
        for fam in FAMILIES:
            outs, secs = self._family(fam, docs, "op", str(i))
            self.outs[i].update(outs)
            self.fam_s[fam].append(secs)
            steps.append(secs)
        return steps

    def check_op(self, i: int) -> list[str]:
        errs = []
        floor = SPEC["docs"]["recall_floor"]
        outs = self.outs.pop(i)
        full = outs["full"]
        full_pairs = {tuple(sorted(p)) for p in zip(full["id_a"], full["id_b"])}
        self.verified = len(full)
        self.recall = len(self.planted & full_pairs) / max(1, len(self.planted))
        if self.recall < floor:
            errs.append(f"planted-pair recall {self.recall:.4f} < floor {floor}")
        inc = outs["incremental"]
        inc_pairs = {tuple(sorted(p)) for p in zip(inc["id_new"], inc["dup_of"])}
        if not inc_pairs <= full_pairs:
            errs.append(f"{len(inc_pairs - full_pairs)} incremental pairs not in the full pairs")
        for key in ("kn", "dsir", "bm25", "tfidf"):
            df = outs[key]
            got = digest(df, list(df.columns))
            if got != self.refs[key]:
                errs.append(f"{key} digest {got} != reference {self.refs[key]}")
        return errs

    def _references(self) -> dict[str, str]:
        """Oracle digests, computed once per seed: dsir, bm25 and tfidf in
        DuckDB, the KN language model by its plain-Python twin."""
        path = self.dir / "references.json"
        if path.exists():
            return json.loads(path.read_text())
        import duckdb
        import pandas as pd

        import knref

        import __spark_entry__ as contract
        from med_doi_feature_extraction_spark.operators.dsir import (
            oracle_dist_cte,
            oracle_grams_cte,
            oracle_gumbel_sql,
        )

        c = SPEC["docs"]
        d = c["dsir_dim"]
        en = "(SELECT * FROM documents WHERE lang = 'en')"
        floor = "(SELECT round(ln(1.0 / (total + {d})::DOUBLE), 6) FROM {t})"
        dsir_sql = f"""WITH {oracle_grams_cte("documents", "doc_id", "text", d, prefix="r")},
  {oracle_grams_cte(en, "doc_id", "text", d, prefix="t")},
  {oracle_dist_cte("tdist", "tgrams", d)}, {oracle_dist_cte("qdist", "rgrams", d)},
  scored AS (
    SELECT g.id AS doc_id,
           round(sum(coalesce(t.logp, {floor.format(d=d, t="tdist_t")})
                     - coalesce(q.logp, {floor.format(d=d, t="qdist_t")})), 6) AS logw
    FROM rgrams g LEFT JOIN tdist t USING (idx) LEFT JOIN qdist q USING (idx)
    GROUP BY 1
  ),
  weights AS (
    SELECT d.doc_id, coalesce(s.logw, 0.0) AS logw
    FROM documents d LEFT JOIN scored s USING (doc_id)
  )
SELECT doc_id, logw, {oracle_gumbel_sql("doc_id", "logw", tau=c["dsir_tau"])} AS gumbel_key
FROM weights ORDER BY gumbel_key DESC, doc_id LIMIT {c["dsir_k"]}"""
        sqls = {
            "dsir": dsir_sql,
            "bm25": contract.SQL_BM25,
            "tfidf": contract.SQL_TFIDF_TOPK,
        }
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{self.dir / 'docs.parquet'}')"
            )
            kn = pd.DataFrame(
                knref.kn_scores(con.execute("SELECT doc_id, text FROM documents").fetchdf()),
                columns=["doc_id", "n_tokens", "logp_per_token", "ppl"],
            )
            refs = {"kn": digest(kn, list(kn.columns))}
            for key, sql in sqls.items():
                df = con.execute(sql).fetchdf()
                refs[key] = digest(df, list(df.columns))
        finally:
            con.close()
        path.write_text(json.dumps(refs, sort_keys=True))
        return refs

    # ---- traced run
    def probes(self) -> None:
        from med_doi_feature_extraction_spark.operators.dedup import minhash_lsh_candidates

        with self.tr.span("probe:candidates"):
            self.candidates = minhash_lsh_candidates(self._docs(), "doc_id", "text").count()

    def layers(self, log, n_ops: int) -> dict[str, float]:  # noqa: ANN001
        out: dict[str, float] = {}
        for fam in FAMILIES:
            pfx = f"operators.{fam}."
            for part in ("build", "exec"):
                group = f"op:{fam}:{part}:"
                out[pfx + f"{part}_s"] = sum(self.tr.seconds(group)) / n_ops
                out[pfx + f"{part}_jobs"] = len(log.jobs(group)) / n_ops
            counts = log.plan_counts(f"op:{fam}:exec:")
            out[pfx + "scan_nodes"] = counts["scan_nodes"] / n_ops
            out[pfx + "reused_exchanges"] = counts["reused_exchanges"] / n_ops
        out["operators.dedup.candidate_pairs"] = float(self.candidates)
        out["operators.dedup.verify_yield"] = self.verified / max(1, self.candidates)
        return out

    def info(self) -> dict:
        return {
            "vocab_distinct": self.meta["vocab_distinct"],
            "planted_pairs": self.meta["planted"],
            "recall": self.recall,
            **{f"{f}_s": median(v) for f, v in self.fam_s.items()},
        }


WORKLOADS = {w.name: w for w in (PagesResumable, DocsCorpus)}
