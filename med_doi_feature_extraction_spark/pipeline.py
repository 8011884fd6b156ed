"""Flagship feature pipeline: pages → features (FIXTURES.md F2 shape).

This is the Spark restatement of the reference's per-record
extract-and-classify loop (reference ``src/engine.py:91-168``): one
declarative DataFrame expression DAG — scan → vectorized text
extraction → JVM-side regex feature maps → one entity window for
lag/ffill/session features → optional point-in-time dimension join →
lineage stamp. Catalyst owns the physical plan; the only Python is the
single Arrow-batched HTML kernel.

Column-pruning discipline: ``html`` is projected away immediately
after the kernel so parquet scans of downstream stages never carry
multi-MB blobs (SURVEY.md §4.2/§7.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from med_doi_feature_extraction_spark.kernels import features as feat
from med_doi_feature_extraction_spark.kernels.html_text import (
    KERNEL_VERSION,
    extract_text_series,
)
from med_doi_feature_extraction_spark.operators.asof import asof_join_window
from med_doi_feature_extraction_spark.operators.windows import (
    forward_fill,
    sessionize,
    with_lag_lead,
)

PIPELINE_VERSION = f"page_features/{KERNEL_VERSION}"


@dataclass(frozen=True)
class FeatureConfig:
    """The declarative "query" — successor of the reference's YAML
    pipeline config (``ConfigSchema``, reference ``src/config/
    schema.py:93-110``): a frozen spec that compiles to a DataFrame
    expression tree. Every field shapes the produced values and feeds
    ``config_hash`` (``semantic_config_json``); the physical plan has
    one shape and no knob here selects another."""

    session_gap_seconds: int = 3600
    lag_k: int = 1
    rolling_rows: int = 0  # 0 = disabled
    include_labels: bool = False  # lead() training labels
    dim_value_cols: tuple[str, ...] = ("rank_score", "category")
    dim_tiebreak: tuple[str, ...] = ("rank_score", "category")
    run_id: str = "adhoc"


_text_udf = F.pandas_udf(extract_text_series, T.StringType())


def extract_stage(pages: DataFrame) -> DataFrame:
    """Scan-side stage: decode html → canonical text, regex feature
    maps, then PRUNE the blob column.

    Runs in the SCAN stage on purpose — html blobs never cross a
    shuffle (at 100 TB, shuffling the raw payload is the dominant
    cost; `spark.sql.files.maxPartitionBytes` is sized down in
    session.py so blob scans still fan out across all cores)."""
    return (
        pages.withColumn("text_extracted", _text_udf("html"))
        .drop("html")
        .withColumns(
            {
                "text_len": F.length("text_extracted").cast("int"),
                "doi_count": feat.doi_count(F.col("text_extracted")),
                "doi_first": feat.doi_first(F.col("text_extracted")),
                "domain": F.parse_url("url", F.lit("HOST")),
            }
        )
    )


def window_stage(df: DataFrame, cfg: FeatureConfig) -> DataFrame:
    """All per-url temporal features over ONE shuffle — of the SLIM
    post-extract columns (html already pruned)."""
    df = with_lag_lead(
        df, "url", "warc_ts", {"text_len": "text_len"},
        k=cfg.lag_k, include_lead=cfg.include_labels,
    )
    df = forward_fill(df, "url", "warc_ts", ["lang"])
    df = sessionize(df, "url", "warc_ts", cfg.session_gap_seconds)
    if cfg.rolling_rows:
        from med_doi_feature_extraction_spark.operators.windows import rolling

        df = rolling(df, "url", "warc_ts", "text_len", n_rows=cfg.rolling_rows)
    return df


def semantic_config_json(cfg: FeatureConfig) -> str:
    """Canonical JSON of the config — every ``FeatureConfig`` field
    shapes the produced values. Single source of truth for the
    transparency hash — the DuckDB oracle derives its expected literal
    from this same function."""
    import dataclasses
    import json

    return json.dumps(dataclasses.asdict(cfg), sort_keys=True, default=str)


def transparency_struct(
    cfg: FeatureConfig,
    tier,
    est_cost,
    template: str = "",
):
    """Per-row transparency struct mirroring the reference's
    ``ExtractionResult.transparency`` (reference ``src/models.py:
    34-42``: provider/model, token counts, cost, prompt hash): which
    kernel + config + template produced this row, the routed tier and
    its estimated cost. Pure Column algebra composed from existing
    pieces — P3 sha2, M2 routing, P14 cost model (pass
    ``audit.record_cost(...)`` or a pre-resolved chain as
    ``est_cost``). The sha2 calls constant-fold to literals."""
    cfg_json = semantic_config_json(cfg)
    return F.struct(
        F.lit(PIPELINE_VERSION).alias("kernel_version"),
        F.sha2(F.lit(cfg_json), 256).alias("config_hash"),
        F.sha2(F.lit(template), 256).alias("template_hash"),
        tier.alias("tier_used"),
        F.round(est_cost, 8).alias("est_cost"),
    )


_TIER_THRESHOLDS = (0.5, 0.8)
_TIER_NAMES = ("nano", "mini", "full")


def transparency_stage(
    df: DataFrame, cfg: FeatureConfig, text_len_col: str = "text_len"
) -> DataFrame:
    """Flagship wiring of ``transparency_struct``: tier routed from the
    length-bucket complexity of the extracted text, input tokens
    estimated at text_len/4 chars-per-token, output tokens 0 (feature
    extraction is input-dominated).

    The tier→price resolution happens at PLAN TIME (the routing table
    and the price table are both Python constants here, validated
    against each other below — unknown-tier fails at plan
    construction, before any job). Substituting the generic
    ``record_cost`` when-chain — with its per-branch copies of the
    complexity chain and runtime raise_error guard — into this hot
    projection measurably bloated the codegen'd join+project stage
    (~0.5 s / 10% of flagship wall at sf0.1); the flat three-branch
    chain below produces identical values."""
    from med_doi_feature_extraction_spark.audit import MODEL_PRICES
    from med_doi_feature_extraction_spark.operators.cascade import (
        route_by_complexity,
    )
    from med_doi_feature_extraction_spark.operators.quality import (
        complexity_from_len,
    )

    missing = set(_TIER_NAMES) - set(MODEL_PRICES)
    if missing:
        raise ValueError(
            f"transparency_stage: routed tiers missing from price table: {missing}"
        )
    n = F.coalesce(F.col(text_len_col), F.lit(0))
    cx = complexity_from_len(n)
    tier = route_by_complexity(cx, _TIER_THRESHOLDS, _TIER_NAMES)
    # same branch structure as route_by_complexity, resolved to the
    # tier's input price (tokens_out = 0: no output-price term)
    in_price = F.when(cx < _TIER_THRESHOLDS[0], F.lit(MODEL_PRICES["nano"][0])).when(
        cx < _TIER_THRESHOLDS[1], F.lit(MODEL_PRICES["mini"][0])
    ).otherwise(F.lit(MODEL_PRICES["full"][0]))
    est_cost = ((n / F.lit(4.0)) / F.lit(1e6)) * in_price + (
        F.lit(0.0) / F.lit(1e6)
    ) * F.lit(0.0)
    return df.withColumn(
        "transparency", transparency_struct(cfg, tier, est_cost)
    )


def lineage_stage(df: DataFrame, cfg: FeatureConfig) -> DataFrame:
    return df.withColumn(
        "lineage",
        F.struct(
            F.spark_partition_id().alias("partition_id"),
            F.lit(PIPELINE_VERSION).alias("kernel_version"),
            F.lit(cfg.run_id).alias("run_id"),
        ),
    )


def features_from_extracted(
    df: DataFrame,
    dim: DataFrame | None = None,
    cfg: FeatureConfig = FeatureConfig(),
    pre_partitioned: bool = False,
) -> DataFrame:
    """Window + point-in-time + transparency + lineage over an
    ALREADY-extracted (html-free) pages table — the downstream half of
    ``page_features``, which composes it with ``extract_stage`` in one
    plan; pipelines that materialize the extract stage call it directly
    (the production shape at 10^12 docs: extract once, write bucketed
    by url, run feature passes off the bucketed table).

    With ``pre_partitioned=True`` on a url-bucketed table the whole
    window stack runs with ZERO exchanges (asserted in
    tests/test_catalog.py): bucketing pays off only at a MATERIALIZED
    boundary because the pandas-UDF extract node cannot propagate
    partitioning — running the UDF in-plan over a bucketed scan still
    costs the window exchange (measured: the in-plan bucketed variant
    is no faster than the default plan)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    base = df if pre_partitioned else df.repartition(n, "url")
    feats = window_stage(base, cfg)
    if dim is not None:
        slim = df.select("url", "warc_ts", "domain")
        res = asof_join_window(
            slim, dim, "domain", "warc_ts", "obs_ts",
            list(cfg.dim_value_cols), right_tiebreak=list(cfg.dim_tiebreak),
        ).drop("domain")
        if not pre_partitioned:
            res = res.repartition(n, "url")
        feats = feats.join(res, ["url", "warc_ts"], "left")
    return lineage_stage(transparency_stage(feats, cfg), cfg)


def page_features(
    pages: DataFrame,
    dim: DataFrame | None = None,
    cfg: FeatureConfig = FeatureConfig(),
) -> DataFrame:
    """Full flagship pipeline: ``extract_stage`` composed with
    ``features_from_extracted`` in one plan. ``dim`` (FIXTURES.md F3)
    is optional; when present, point-in-time join on (domain,
    obs_ts <= warc_ts).

    Shuffle budget (the 100 TB concern — measured, see BASELINE.md):
    1. html is decoded IN the scan stage and pruned — raw payload
       never crosses a shuffle; the stored ground-truth ``text`` is
       dropped before the exchange too (it duplicates
       ``text_extracted`` byte-for-byte and would double the wide
       shuffle's payload);
    2. ONE full-width (post-extract) hash exchange on url feeds every
       window feature (their clustering requirement is satisfied, so
       Catalyst adds no further exchange);
    3. the as-of join runs on a 3-column projection (url, warc_ts,
       parse_url(url)) — Catalyst prunes the unused UDF column, so
       that side's scan reads only url and warc_ts, runs no UDF, and
       is NOT a second evaluation of the extract+window subtree
       (deriving it from the window output made Spark recompute the
       whole expensive DAG twice — measured via event logs); its
       union-window exchange moves ~1% of the bytes, then it rejoins
       co-partitioned on url (both sides HashPartitioning(url, n) ⇒
       join without exchanging the wide side again).
    """
    return features_from_extracted(extract_stage(pages).drop("text"), dim=dim, cfg=cfg)
