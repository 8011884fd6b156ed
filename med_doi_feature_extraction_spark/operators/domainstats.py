"""Grouped-binomial quality rollups (Wilson bound) and markup-density
page statistics.

Domain-level triage is how a 10^12-page pipeline spends its quality
budget: instead of scoring every page of a known-bad domain, roll the
per-page keep decisions up to the domain and act on the group. The
honest statistic for "is this domain good" from k keeps out of n is
the **Wilson score lower bound** (Wilson 1927; the classic ranking
fix popularized for star-ratings) — a raw keep-rate ranks a 1/1
domain above a 979/1000 one. The reference's analogue is the
confidence blend in ``src/services/quality_service.py:20-58`` (scalar
per-record confidence); here confidence is a closed-form projection
of ONE hash-agg.

``markup_stats`` is the text-to-markup density battery (boilerplate /
template-page signal): pure Column algebra over (html, text), exact
integer byte counts, portable 6-dp ratios.

Both surfaces are engine-portable by construction: exact-BIGINT
aggregates, one shared formula tree for the Wilson bound (IEEE sqrt
is correctly rounded in both engines), regexes RE2-safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: z for a 95% one-sided Wilson lower bound; z² spelled as a product
#: so both engines compute the IDENTICAL double.
_Z = 1.96

_TAG_RE = r"<[a-zA-Z!/]"
_SCRIPT_STYLE_RE = r"(?is)<script[\s\S]*?</script>|<style[\s\S]*?</style>"
_ANCHOR_RE = r"(?i)<a[\s>]"


def _round6(c: Column) -> Column:
    """Portable 6-dp HALF_UP for non-negative inputs
    (the kernels.fixed rule without the sign branch)."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6) + F.lit(0.0)


def wilson_lower_bound(k: Column, n: Column) -> Column:
    """Wilson score interval lower bound for k successes in n trials
    (0.0 when n = 0). One closed-form expression over two exact
    integers — both engines produce bit-identical doubles, so the
    6-dp gate can never straddle."""
    z = F.lit(_Z)
    zz = z * z
    p = k / n
    center = p + zz / (F.lit(2.0) * n)
    margin = z * F.sqrt(
        (p * (F.lit(1.0) - p) + zz / (F.lit(4.0) * n)) / n
    )
    lb = (center - margin) / (F.lit(1.0) + zz / n)
    return F.when(n > 0, _round6(F.greatest(lb, F.lit(0.0)))).otherwise(
        F.lit(0.0)
    )


def quality_rollup(
    df: DataFrame, group_col: str, keep: Column
) -> DataFrame:
    """Per-group binomial quality: (group, n, n_keep, keep_rate,
    wilson_lb), wilson_lb ranking-safe for small groups. ONE hash-agg
    with map-side partial combine — group cardinality (domains,
    languages, sources) is always ≪ corpus."""
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(keep.cast("long")).cast("long").alias("n_keep"),
    )
    return agg.select(
        "grp",
        "n",
        "n_keep",
        _round6(F.col("n_keep") / F.col("n")).alias("keep_rate"),
        wilson_lower_bound(F.col("n_keep"), F.col("n")).alias("wilson_lb"),
    )


def sql_quality_rollup(
    from_clause: str, group_expr: str, keep_expr: str
) -> str:
    """DuckDB query mirroring :func:`quality_rollup` — SAME formula
    tree, exact-int aggregates cast before the double math."""
    zz = f"({_Z} * {_Z})"
    return f"""
WITH a AS (
  SELECT {group_expr} AS grp,
         CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN {keep_expr} THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_keep
  FROM {from_clause} GROUP BY 1
)
SELECT grp, n, n_keep,
       (floor((CAST(n_keep AS DOUBLE) / n) * 1e6 + 0.5) / 1e6 + 0.0)
           AS keep_rate,
       CASE WHEN n > 0 THEN
         (floor(greatest(
            ((CAST(n_keep AS DOUBLE) / n + {zz} / (2.0 * n))
             - {_Z} * sqrt(((CAST(n_keep AS DOUBLE) / n)
                            * (1.0 - CAST(n_keep AS DOUBLE) / n)
                            + {zz} / (4.0 * n)) / n))
            / (1.0 + {zz} / n), 0.0) * 1e6 + 0.5) / 1e6 + 0.0)
       ELSE 0.0 END AS wilson_lb
FROM a
"""


def markup_stats(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """Per-page markup density: html/text byte lengths, text-to-markup
    ratio, tag count, script+style byte share, anchor-tag count —
    the template/boilerplate page signal, one codegen span on the
    scan (extract-all + transform/aggregate are array algebra, no
    UDF)."""
    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    t = F.coalesce(F.col(text_col), F.lit(""))
    hlen = F.length(h).cast("long")
    tlen = F.length(t).cast("long")
    ss_bytes = F.aggregate(
        F.transform(
            F.regexp_extract_all(h, F.lit(_SCRIPT_STYLE_RE), 0),
            lambda x: F.length(x).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ratio = F.when(
        hlen > 0, _round6(tlen / hlen)
    ).otherwise(F.lit(0.0))
    ss_share = F.when(
        hlen > 0, _round6(ss_bytes / hlen)
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(url_col).alias("url"),
        hlen.alias("html_len"),
        tlen.alias("text_len"),
        (ratio + F.lit(0.0)).alias("text_ratio"),
        F.regexp_count(h, F.lit(_TAG_RE)).cast("long").alias("n_tags"),
        ss_bytes.alias("script_style_bytes"),
        (ss_share + F.lit(0.0)).alias("script_style_share"),
        F.regexp_count(h, F.lit(_ANCHOR_RE)).cast("long").alias("n_anchors"),
    )


def sql_markup_stats(parquet_glob: str, html_expr: str = "html") -> str:
    """DuckDB query mirroring :func:`markup_stats` over a seam whose
    html column is already VARCHAR (``html_expr`` lets callers cast)."""
    h = f"coalesce({html_expr}, '')"
    t = "coalesce(text, '')"
    tag = _TAG_RE
    ss = _SCRIPT_STYLE_RE.replace("'", "''")
    anchor = _ANCHOR_RE
    ssb = (
        f"CAST(coalesce(list_sum(list_transform("
        f"regexp_extract_all({h}, '{ss}', 0), x -> length(x))), 0) AS BIGINT)"
    )
    r6 = "floor(({x}) * 1e6 + 0.5) / 1e6 + 0.0"
    ratio = r6.format(x=f"CAST(length({t}) AS DOUBLE) / length({h})")
    ss_share = r6.format(x=f"CAST({ssb} AS DOUBLE) / length({h})")
    return f"""
SELECT url,
       CAST(length({h}) AS BIGINT) AS html_len,
       CAST(length({t}) AS BIGINT) AS text_len,
       (CASE WHEN length({h}) > 0 THEN {ratio} ELSE 0.0 END + 0.0)
           AS text_ratio,
       CAST(len(regexp_extract_all({h}, '{tag}', 0)) AS BIGINT) AS n_tags,
       {ssb} AS script_style_bytes,
       (CASE WHEN length({h}) > 0 THEN {ss_share} ELSE 0.0 END + 0.0)
           AS script_style_share,
       CAST(len(regexp_extract_all({h}, '{anchor}', 0)) AS BIGINT)
           AS n_anchors
FROM read_parquet('{parquet_glob}')
"""


# ------------------------------------------------------- template census

#: tag-name extraction for the layout fingerprint (opening tags only —
#: closing tags add no structure information; Java∩RE2 subset)
_TAGNAME_RE = r"(?i)<([a-z][a-z0-9]*)"


def _sql_fp_seq(h: str) -> str:
    """DuckDB tag-sequence expression behind the layout fingerprint —
    the single source for template_census AND host_report oracles."""
    return (
        f"array_to_string(list_transform(regexp_extract_all({h}, "
        f"'{_TAGNAME_RE}', 1), x -> lower(x)), ' ')"
    )


def template_fingerprint(html: Column) -> Column:
    """Layout fingerprint: sha256 of the page's lower-cased opening
    tag-name SEQUENCE (content-independent — two articles stamped
    from one CMS template share it; Gibson et al. 2005 put template
    bytes at 40–50% of the web). Pure codegen Column."""
    h = F.coalesce(html.cast("string"), F.lit(""))
    seq = F.array_join(
        F.transform(
            F.regexp_extract_all(h, F.lit(_TAGNAME_RE), 1), F.lower
        ),
        " ",
    )
    return F.sha2(seq, 256)


def template_census(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-registrable-domain template diversity: ``n_pages,
    n_templates, top_template_share`` (share of pages on the most
    common fingerprint, 6 dp) and ``pages_per_template``. A domain
    stamping thousands of pages from one template is the
    thin-content/doorway tell the admission gates consume; a healthy
    editorial site shows many templates at low concentration.

    Two host-keyed hash-aggs ((domain, fingerprint) then domain) —
    the fingerprint itself never leaves the scan stage un-aggregated,
    and the wide html column dies at the first projection."""
    from med_doi_feature_extraction_spark.operators.urls import (
        url_domain,
        url_host,
    )

    d = df.select(
        url_domain(url_host(F.col(url_col))).alias("domain"),
        template_fingerprint(F.col(html_col)).alias("fp"),
    )
    per_fp = d.groupBy("domain", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    out = per_fp.groupBy("domain").agg(
        F.sum("n").cast("long").alias("n_pages"),
        F.count(F.lit(1)).cast("long").alias("n_templates"),
        F.max("n").cast("long").alias("_top"),
    )
    return out.select(
        "domain",
        "n_pages",
        "n_templates",
        _round6(F.col("_top").cast("double") / F.col("n_pages")).alias(
            "top_template_share"
        ),
        _round6(
            F.col("n_pages").cast("double") / F.col("n_templates")
        ).alias("pages_per_template"),
    )


def sql_template_census(
    parquet_glob: str, url_expr: str = "url", html_expr: str = "html"
) -> str:
    """DuckDB twin of :func:`template_census`."""
    from med_doi_feature_extraction_spark.operators.urls import (
        sql_url_domain,
        sql_url_host,
    )

    h = f"coalesce(CAST({html_expr} AS VARCHAR), '')"
    seq = _sql_fp_seq(h)
    dom = sql_url_domain(sql_url_host(url_expr))
    r6 = "floor(({x}) * 1e6 + 0.5) / 1e6 + 0.0"
    top = r6.format(x="CAST(top_n AS DOUBLE) / n_pages")
    ppt = r6.format(x="CAST(n_pages AS DOUBLE) / n_templates")
    return f"""
WITH fp AS (
  SELECT {dom} AS domain, sha256({seq}) AS fp
  FROM read_parquet('{parquet_glob}')
),
per AS (
  SELECT domain, fp, CAST(count(*) AS BIGINT) AS n
  FROM fp GROUP BY domain, fp
),
agg AS (
  SELECT domain, CAST(sum(n) AS BIGINT) AS n_pages,
         CAST(count(*) AS BIGINT) AS n_templates,
         CAST(max(n) AS BIGINT) AS top_n
  FROM per GROUP BY domain
)
SELECT domain, n_pages, n_templates,
       ({top}) AS top_template_share,
       ({ppt}) AS pages_per_template
FROM agg
"""


def host_report(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    text_col: str = "text",
) -> DataFrame:
    """Per-HOST quality report card — the one-stop dashboard row
    joining the census family over a single page scan: ``n_pages``,
    ``canonical_rate`` (pages declaring rel=canonical),
    ``soft404_rate``, ``avg_text_ratio`` (mean text-to-markup, 6 dp),
    ``n_templates`` + ``top_template_share`` (layout concentration).
    This is what a crawl-ops reviewer sorts by before deciding which
    hosts to quarantine, recrawl or subsample.

    Execution shape: ALL six signals come from ONE scan — every
    per-page feature is codegen Column algebra computed side by side
    in the same projection (no operator-per-join over the corpus;
    the module's single-purpose operators share their Column-level
    builders), followed by one (host, fingerprint) hash-agg feeding
    one host hash-agg. The wide html column dies at the projection.
    """
    from med_doi_feature_extraction_spark.operators.headmeta import (
        canonical_col,
        soft404_col,
    )
    from med_doi_feature_extraction_spark.operators.urls import url_host

    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    t = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    # per-page ratio in exact micro-units BIGINT so the SUM is
    # order-free (vocab_growth/column_entropy discipline — a raw
    # double sum could straddle the 6-dp gate across partitionings)
    ratio_u = F.when(
        F.length(h) > 0,
        F.floor(
            F.length(t).cast("double") / F.length(h) * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    page = df.select(
        url_host(F.col(url_col)).alias("host"),
        (F.length(canonical_col(h)) > 0).cast("long").alias("_canon"),
        soft404_col(h, t).cast("long").alias("_s404"),
        ratio_u.alias("_ratio_u"),
        template_fingerprint(h).alias("_fp"),
    )
    per_fp = page.groupBy("host", "_fp").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_canon").alias("_c"),
        F.sum("_s404").alias("_s"),
        F.sum("_ratio_u").cast("long").alias("_r"),
    )
    out = per_fp.groupBy("host").agg(
        F.sum("_n").cast("long").alias("n_pages"),
        F.count(F.lit(1)).cast("long").alias("n_templates"),
        F.max("_n").cast("long").alias("_top"),
        F.sum("_c").cast("long").alias("_canon"),
        F.sum("_s").cast("long").alias("_s404"),
        F.sum("_r").cast("long").alias("_ratio_u_sum"),
    )
    n = F.col("n_pages").cast("double")
    return out.select(
        "host",
        "n_pages",
        _round6(F.col("_canon").cast("double") / n).alias(
            "canonical_rate"
        ),
        _round6(F.col("_s404").cast("double") / n).alias("soft404_rate"),
        _round6(F.col("_ratio_u_sum").cast("double") / F.lit(1e6) / n)
        .alias("avg_text_ratio"),
        "n_templates",
        _round6(F.col("_top").cast("double") / n).alias(
            "top_template_share"
        ),
    )


def sql_host_report(parquet_glob: str) -> str:
    """DuckDB twin of :func:`host_report` (reuses the shared
    canonical/soft404/host/fingerprint expression builders)."""
    from med_doi_feature_extraction_spark.operators.headmeta import (
        sql_canonical_expr,
        sql_soft404_expr,
    )
    from med_doi_feature_extraction_spark.operators.urls import sql_url_host

    h = "coalesce(CAST(html AS VARCHAR), '')"
    t = "coalesce(CAST(text AS VARCHAR), '')"
    seq = _sql_fp_seq(h)
    canon = sql_canonical_expr("html")
    s404 = sql_soft404_expr("html", "text")
    r6 = "floor(({x}) * 1e6 + 0.5) / 1e6 + 0.0"
    return f"""
WITH page AS (
  SELECT {sql_url_host('url')} AS host,
         CAST(CASE WHEN length({canon}) > 0 THEN 1 ELSE 0 END
              AS BIGINT) AS canon,
         CAST(CASE WHEN {s404} THEN 1 ELSE 0 END AS BIGINT) AS s404,
         CASE WHEN length({h}) > 0
              THEN CAST(floor(CAST(length({t}) AS DOUBLE)
                              / length({h}) * 1e6 + 0.5) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS ratio_u,
         sha256({seq}) AS fp
  FROM read_parquet('{parquet_glob}')
),
per_fp AS (
  SELECT host, fp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(canon) AS BIGINT) AS c,
         CAST(sum(s404) AS BIGINT) AS s,
         CAST(sum(ratio_u) AS BIGINT) AS r
  FROM page GROUP BY host, fp
),
agg AS (
  SELECT host, CAST(sum(n) AS BIGINT) AS n_pages,
         CAST(count(*) AS BIGINT) AS n_templates,
         CAST(max(n) AS BIGINT) AS top_n,
         CAST(sum(c) AS BIGINT) AS canon,
         CAST(sum(s) AS BIGINT) AS s404,
         CAST(sum(r) AS BIGINT) AS ratio_u_sum
  FROM per_fp GROUP BY host
)
SELECT host, n_pages,
       ({r6.format(x="(canon)::DOUBLE / n_pages")}) AS canonical_rate,
       ({r6.format(x="(s404)::DOUBLE / n_pages")}) AS soft404_rate,
       ({r6.format(x="(ratio_u_sum)::DOUBLE / 1e6 / n_pages")})
         AS avg_text_ratio,
       n_templates,
       ({r6.format(x="(top_n)::DOUBLE / n_pages")})
         AS top_template_share
FROM agg
"""
