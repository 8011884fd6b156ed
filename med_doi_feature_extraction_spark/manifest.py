"""Checkpoint manifest with per-partition lineage + resume.

Spark-native successor of the reference's filesystem-as-database
resume (skip-if-output-file-exists, reference ``src/engine.py:98-104``)
and its append-only JSONL audit streams (``src/services/
audit_service.py:34-53``):

- Work is partitioned into ``n_buckets`` url-hash buckets; buckets are
  processed in chunks, each chunk one independent Spark job writing
  parquet partitioned by ``url_bucket``.
- After a chunk commits, one manifest row per bucket (rows_out, bytes,
  wall time, kernel version, status=done) is persisted as a NEW
  immutable JSONL file — the durable checkpoint. No append anywhere
  (object stores don't support it); every flush is its own
  ``manifest_{attempt}_{seq}.jsonl``.
- Resume = anti-join pending buckets against the manifest's done set
  (the reference's per-key existence check, lifted to bucket
  granularity so it costs O(buckets), not O(rows)).
- Idempotence: chunk writes use dynamic partition overwrite, so
  re-processing a bucket whose write partially completed before a
  crash simply replaces it — final output equals a clean run
  (kill/resume test in tests/test_pipeline_manifest.py).
- ALL filesystem access goes through the Hadoop FileSystem API
  (``fsutil``), so the same code runs on local disk, HDFS and S3A;
  per-bucket row counts + bytes come from the committed parquet
  FOOTERS via the JVM parquet-hadoop reader (metadata-only, no second
  Spark job, scheme-agnostic).

At cluster scale each chunk is a bounded-size job (straggler/ retry
blast radius = one chunk), and the manifest doubles as the lineage /
throughput record the bench reads.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark import fsutil
from med_doi_feature_extraction_spark.pipeline import (
    PIPELINE_VERSION,
    FeatureConfig,
    page_features,
)


@dataclass
class BucketRecord:
    run_id: str
    chunk_id: int
    url_bucket: int
    rows_out: int
    bytes_out: int
    t_start: float
    t_end: float
    kernel_version: str
    status: str


class CheckpointManifest:
    """Immutable-file JSONL manifest (one file per flush, like the
    reference's per-session ``events_*.jsonl`` streams but safe for
    append-less object stores)."""

    def __init__(self, spark: SparkSession, manifest_dir: str) -> None:
        self.spark = spark
        self.dir = manifest_dir.rstrip("/")
        self._seq = 0
        fsutil.mkdirs(spark, self.dir)

    def _files(self) -> list[str]:
        return sorted(
            path
            for path, _ in fsutil.list_files(self.spark, self.dir)
            if path.rsplit("/", 1)[-1].startswith("manifest_")
            and path.endswith(".jsonl")
        )

    def done_buckets(self) -> set[int]:
        done: set[int] = set()
        for rec in self.records():
            if rec.get("status") == "done":
                done.add(int(rec["url_bucket"]))
        return done

    def append(self, attempt_id: str, records: list[BucketRecord]) -> None:
        self._seq += 1
        path = f"{self.dir}/manifest_{attempt_id}_{self._seq:04d}.jsonl"
        body = "".join(json.dumps(asdict(rec)) + "\n" for rec in records)
        fsutil.write_text(self.spark, path, body)

    def records(self) -> list[dict]:
        out = []
        for path in self._files():
            for line in fsutil.read_text(self.spark, path).splitlines():
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # torn tail line from a crash — ignore
        return out


class InjectedFailure(RuntimeError):
    """Test-only crash injection between chunks."""


def _bucket_stats(spark: SparkSession, out_dir: str, bucket: int) -> tuple[int, int]:
    """(rows, bytes) of one bucket's committed partition dir — parquet
    footers + FS listing via the Hadoop FileSystem API (metadata only,
    any scheme, no Spark job)."""
    bdir = f"{out_dir.rstrip('/')}/url_bucket={bucket}"
    return fsutil.parquet_rows_and_bytes(spark, bdir)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def run_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    manifest_dir: str,
    dim: DataFrame | None = None,
    cfg: FeatureConfig = FeatureConfig(),
    n_buckets: int = 16,
    buckets_per_chunk: int = 4,
    fail_after_chunks: int | None = None,
) -> list[BucketRecord]:
    """Run the flagship pipeline resumably. Returns this attempt's
    manifest records (already persisted)."""
    manifest = CheckpointManifest(spark, manifest_dir)
    attempt_id = uuid.uuid4().hex[:12]
    done = manifest.done_buckets()
    pending = [b for b in range(n_buckets) if b not in done]

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    all_records: list[BucketRecord] = []
    src = pages.withColumn("url_bucket", bucket_col(n_buckets))

    chunks = [
        pending[i : i + buckets_per_chunk]
        for i in range(0, len(pending), buckets_per_chunk)
    ]
    for chunk_id, chunk in enumerate(chunks):
        t_start = time.time()
        part = src.filter(F.col("url_bucket").isin(chunk))
        # the html UDF runs in the scan stage, before any exchange;
        # features_from_extracted then hash-repartitions on url once
        # for the window stage, and the sink splits that url-partitioned
        # output into one directory per url_bucket (partitionBy).
        feats = page_features(part, dim=dim, cfg=cfg)
        (
            feats.write.mode("overwrite")
            .partitionBy("url_bucket")
            .parquet(out_dir)
        )
        # lineage metrics straight from the committed parquet footers
        # (rows) + FS sizes — metadata-only, no second Spark job
        by_bucket = {b: _bucket_stats(spark, out_dir, b) for b in chunk}
        t_end = time.time()
        records = [
            BucketRecord(
                run_id=cfg.run_id,
                chunk_id=chunk_id,
                url_bucket=b,
                rows_out=by_bucket[b][0],
                bytes_out=by_bucket[b][1],
                t_start=t_start,
                t_end=t_end,
                kernel_version=PIPELINE_VERSION,
                status="done",
            )
            for b in chunk
        ]
        manifest.append(attempt_id, records)
        all_records.extend(records)
        if fail_after_chunks is not None and chunk_id + 1 >= fail_after_chunks:
            raise InjectedFailure(f"injected crash after chunk {chunk_id}")
    return all_records
