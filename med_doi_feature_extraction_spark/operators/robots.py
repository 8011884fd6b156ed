"""robots.txt-style URL admission: longest-prefix-match rule
evaluation per host (the Robots Exclusion Protocol matching core,
RFC 9309 §2.2.2).

A crawl-derived corpus has to answer "was this URL even allowed?"
retroactively — license audits, takedown sweeps, and polite-recrawl
scheduling all re-evaluate the rule table against the stored URL
set. The REP decision procedure: collect every rule of the URL's
host whose path-prefix matches, pick the LONGEST match, allow wins
ties; a URL with no matching rule (or an unlisted host) is allowed.

Execution shape, 100 TB lens: the rule table is bounded (a few
rules per host) and broadcast — the candidate expansion is a
broadcast equi-join on host (no corpus shuffle), the per-URL winner
is ONE hash-agg ``max(struct(len, is_allow, prefix, type))`` on the
URL key (lexicographic struct max encodes exactly the REP
tie-break), and the verdict re-attaches with one keyed join. No
window over the corpus, no NLJ: prefix matching stays inside the
hash-join's residual filter.

Portability: host/path parsing reuses the portable regex algebra of
operators/urls (no parse_url), so an oracle engine runs the
IDENTICAL expressions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from med_doi_feature_extraction_spark.operators.urls import (
    url_host,
    url_path,
)


def apply_robots(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_cols: Sequence[str] = ("url",),
    host_col: str = "host",
    type_col: str = "rule",
    prefix_col: str = "path_prefix",
) -> DataFrame:
    """Evaluate REP rules against a URL table.

    ``rules``: one row per (host, 'allow'|'disallow', path_prefix);
    hosts must be normalized (lowercase, no userinfo/default port) —
    the URL side is normalized here with the same algebra.

    Output: ``*id_cols, url, robots_type, robots_prefix,
    robots_allowed`` (BIGINT 0/1; 1 when no rule matches).
    """
    return _rep_verdict(
        df, rules, url_col, id_cols, host_col, type_col, prefix_col,
        F.col("_path").startswith(F.col("_prefix")),
    )


def _rep_verdict(
    df: DataFrame,
    rules: DataFrame,
    url_col: str,
    id_cols: Sequence[str],
    host_col: str,
    type_col: str,
    prefix_col: str,
    match: F.Column,
    *rule_cols: F.Column,
) -> DataFrame:
    """The REP verdict shared by :func:`apply_robots` and
    :func:`apply_robots_wildcards`, which differ only in ``match`` —
    the predicate over ``_path`` and the broadcast rule row (``_host``,
    ``_type``, ``_prefix`` plus any ``rule_cols`` computed once per
    rule row). Winner per URL: ``max(struct(len, is_allow, prefix,
    type))`` — longest rule, allow beats disallow on ties."""
    ids = list(id_cols)
    # the url column may itself be the id (the common corpus key case:
    # id_cols=("url",)) — emit it once, not twice
    extra_url = [] if "url" in ids else [F.col(url_col).alias("url")]
    u = df.select(
        *ids,
        *extra_url,
        url_host(F.col(url_col)).alias("_host"),
        F.coalesce(
            F.nullif(url_path(F.col(url_col)), F.lit("")), F.lit("/")
        ).alias("_path"),
    )
    r = rules.select(
        F.col(host_col).alias("_host"),
        F.col(type_col).alias("_type"),
        F.col(prefix_col).alias("_prefix"),
        *rule_cols,
    )
    matched = (
        u.join(F.broadcast(r), "_host")
        .filter(match)
        .groupBy(*ids)
        .agg(
            F.max(
                F.struct(
                    F.length("_prefix").alias("len"),
                    (F.col("_type") == "allow")
                    .cast("int")
                    .alias("is_allow"),
                    F.col("_prefix").alias("prefix"),
                    F.col("_type").alias("type"),
                )
            ).alias("_best")
        )
    )
    out = u.join(matched, ids, "left")
    return out.select(
        *ids,
        *([] if "url" in ids else ["url"]),
        F.col("_best.type").alias("robots_type"),
        F.col("_best.prefix").alias("robots_prefix"),
        F.when(F.col("_best").isNull(), F.lit(1))
        .when(F.col("_best.is_allow") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("robots_allowed"),
    )


def oracle_robots_sql(
    urls_sql: str,
    rules_sql: str,
    id_cols: Sequence[str],
    url_col: str = "url",
) -> str:
    """DuckDB twin of :func:`apply_robots` — identical host/path
    regex algebra and the same (len, is_allow, prefix) tie-break via
    a window."""
    ids = ", ".join(f'"{c}"' for c in id_cols)
    ids_u = ", ".join(f'u."{c}"' for c in id_cols)
    # the url column may itself be the id — emit once (Spark parity)
    url_out = "" if "url" in id_cols else ", u.url"
    return f"""
WITH u AS (
  SELECT {ids}, "{url_col}" AS url,
    regexp_replace(regexp_replace(
      lower(regexp_extract("{url_col}", '^[a-zA-Z]+://([^/?#]+)', 1)),
      '^.*@', ''), ':(80|443)$', '') AS host,
    coalesce(nullif(
      regexp_extract("{url_col}",
        '^[a-zA-Z]+://[^/?#]*(/[^?#]*)', 1), ''), '/') AS path
  FROM {urls_sql}
),
m AS (
  SELECT {ids}, r.rule AS rtype, r.path_prefix AS rprefix,
    row_number() OVER (
      PARTITION BY {ids}
      ORDER BY length(r.path_prefix) DESC,
               CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END DESC,
               r.path_prefix DESC
    ) AS rn
  FROM u JOIN ({rules_sql}) r ON r.host = u.host
  WHERE starts_with(u.path, r.path_prefix)
),
best AS (SELECT * FROM m WHERE rn = 1)
SELECT {ids_u}{url_out},
       best.rtype AS robots_type,
       best.rprefix AS robots_prefix,
       CAST(CASE WHEN best.rtype IS NULL THEN 1
                 WHEN best.rtype = 'allow' THEN 1
                 ELSE 0 END AS BIGINT) AS robots_allowed
FROM u LEFT JOIN best USING ({ids})
"""


# ---------------------------------------------------------- parsing

#: directive keys the parser recognizes (RFC 9309 + the de-facto
#: Crawl-delay/Sitemap extensions); everything else is ignored.
_KEY_RE = r"(?i)^\s*(user-agent|allow|disallow|sitemap|crawl-delay)\s*:\s*(.*?)\s*$"

ROBOTS_VERSION = "robots/v1"


def _lines(df: DataFrame, host_col: str, body_col: str) -> DataFrame:
    """One row per robots.txt line with position, comment stripped,
    directive key/value extracted ('' when not a directive)."""
    body = F.coalesce(F.col(body_col).cast("string"), F.lit(""))
    line = F.posexplode(F.split(body, r"\r?\n"))
    x = df.select(F.col(host_col).alias("host"), line.alias("pos", "_l"))
    clean = F.regexp_replace(F.col("_l"), r"#.*$", "")
    return x.select(
        "host",
        "pos",
        F.lower(F.regexp_extract(clean, _KEY_RE, 1)).alias("key"),
        F.regexp_extract(clean, _KEY_RE, 2).alias("val"),
    )


def parse_robots(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """robots.txt bodies → the REP rule table :func:`apply_robots`
    consumes: one row per (host, agent, rule, path_prefix).

    RFC 9309 group semantics, distributed: a run of consecutive
    ``User-agent`` lines opens a group; the group's Allow/Disallow
    rules apply to EVERY agent named in that run. Implemented as
    window algebra per host (documents are small, hosts are many —
    the window partition is one robots.txt, never the corpus):
    ``group_id`` = running count of UA-run starts, agents join rules
    of the same group via a bounded per-host equi-join. Rules before
    any UA line and empty-path rules are dropped (RFC: no group / no
    restriction). Agent names lower-cased; rule paths kept byte-exact.
    """
    from pyspark.sql import Window

    ln = _lines(df, host_col, body_col)
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("key") == "user-agent").cast("int")
    new_group = (
        (is_ua == 1)
        & (F.coalesce(F.lag(is_ua).over(w), F.lit(0)) == 0)
    ).cast("int")
    g = ln.select(
        "host", "pos", "key", "val",
        F.sum(new_group).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("grp"),
    )
    agents = (
        g.where((F.col("key") == "user-agent") & (F.length("val") > 0))
        .select("host", "grp", F.lower(F.col("val")).alias("agent"))
        .distinct()
    )
    rules = g.where(
        F.col("key").isin("allow", "disallow") & (F.length("val") > 0)
    ).select(
        "host", "grp", "pos",
        F.col("key").alias("rule"),
        F.col("val").alias("path_prefix"),
    )
    return agents.join(rules, ["host", "grp"]).select(
        "host", "agent", "rule", "path_prefix", "pos"
    )


def robots_directives(
    df: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """Global directives: one row per (host, directive, agent, value)
    — ``sitemap`` rows (agent '') and per-group ``crawl-delay`` rows
    (one per agent of the group). Same window machinery as
    :func:`parse_robots`."""
    from pyspark.sql import Window

    ln = _lines(df, host_col, body_col)
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = (F.col("key") == "user-agent").cast("int")
    new_group = (
        (is_ua == 1)
        & (F.coalesce(F.lag(is_ua).over(w), F.lit(0)) == 0)
    ).cast("int")
    g = ln.select(
        "host", "pos", "key", "val",
        F.sum(new_group).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("grp"),
    )
    sitemaps = g.where(
        (F.col("key") == "sitemap") & (F.length("val") > 0)
    ).select(
        "host",
        F.lit("sitemap").alias("directive"),
        F.lit("").alias("agent"),
        F.col("val").alias("value"),
    )
    agents = (
        g.where((F.col("key") == "user-agent") & (F.length("val") > 0))
        .select("host", "grp", F.lower(F.col("val")).alias("agent"))
        .distinct()
    )
    delays = (
        g.where((F.col("key") == "crawl-delay") & (F.length("val") > 0))
        .select("host", "grp", F.col("val").alias("value"))
        .join(agents, ["host", "grp"])
        .select(
            "host",
            F.lit("crawl-delay").alias("directive"),
            "agent",
            "value",
        )
    )
    return sitemaps.unionByName(delays)


def generate_robots_corpus(n_hosts: int = 60, seed: int = 83):
    """Deterministic robots.txt corpus: multi-agent groups, wildcard
    agents, comments, blank lines, CRLF endings, empty Disallow
    (no-restriction), sitemaps, crawl-delays, junk lines, and
    rules-before-any-group (ignored per RFC).

    Returns pandas DataFrame (host, body).
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    for h in range(n_hosts):
        host = f"site{h}.example.com"
        parts = []
        if h % 7 == 0:
            parts.append("Disallow: /orphan-rule")  # before any group
        parts.append("# robots for " + host)
        parts.append("User-agent: *")
        if h % 11 == 3:
            parts.append("User-agent: goodbot")  # multi-UA run
        parts.append("Disallow: /private")
        if h % 3 == 0:
            parts.append("Allow: /private/ok")
        if h % 5 == 0:
            parts.append("Disallow:")  # empty = no restriction
        if h % 4 == 1:
            parts.append("")
            parts.append("USER-AGENT: badbot")  # case variation
            parts.append("Disallow: /")
            parts.append("Crawl-delay: 10")
        if h % 2 == 0:
            parts.append(f"Sitemap: https://{host}/sitemap.xml")
        if h % 9 == 2:
            parts.append("not a directive line")
            parts.append("Crawl-delay: 2.5")  # in last group
        joiner = "\r\n" if h % 6 == 0 else "\n"
        rows.append((host, joiner.join(parts)))
    return pd.DataFrame(rows, columns=["host", "body"])


def oracle_parse_cte(parquet_glob: str) -> str:
    """``g`` CTE body (host, pos, key, val, grp) mirroring the parser
    for DuckDB (append after ``WITH``)."""
    key_re = _KEY_RE.replace("'", "''")
    return f"""
parts AS (
  SELECT host, string_split_regex(coalesce(body, ''), '\\r?\\n') AS p
  FROM read_parquet('{parquet_glob}')
),
ln AS (
  SELECT host, CAST(i - 1 AS INT) AS pos,
         lower(regexp_extract(regexp_replace(p[i], '#.*$', ''),
                              '{key_re}', 1)) AS key,
         regexp_extract(regexp_replace(p[i], '#.*$', ''),
                        '{key_re}', 2) AS val
  FROM parts, unnest(range(1, len(p) + 1)) AS u(i)
),
mk AS (
  SELECT host, pos, key, val,
         CASE WHEN key = 'user-agent'
              AND coalesce(lag(CASE WHEN key = 'user-agent'
                                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY host ORDER BY pos), 0) = 0
              THEN 1 ELSE 0 END AS ng
  FROM ln
),
g AS (
  SELECT host, pos, key, val,
         sum(ng) OVER (PARTITION BY host ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS grp
  FROM mk
)
"""


# ----------------------------------------------- RFC 9309 wildcards

#: regex metacharacters escaped when compiling a robots path rule —
#: backslash FIRST; '*' is intentionally absent (it becomes '.*') and
#: a TRAILING '$' is consumed as the RFC end-anchor before escaping.
_RULE_META = (
    "\\", ".", "^", "$", "+", "?", "(", ")", "[", "]", "{", "}", "|",
)


def rule_regex_col(prefix: F.Column) -> F.Column:
    """Compile a robots path rule (RFC 9309 ``*`` wildcards and a
    trailing ``$`` end-anchor) to an anchored regex, as a Column —
    evaluated once per RULE row (slim table), never per URL."""
    ends = prefix.endswith("$")
    body = F.when(
        ends, F.substring(prefix, 1, F.length(prefix) - 1)
    ).otherwise(prefix)
    for ch in _RULE_META:
        body = F.replace(body, F.lit(ch), F.lit("\\" + ch))
    body = F.replace(body, F.lit("*"), F.lit(".*"))
    return F.concat(
        F.lit("^"),
        body,
        F.when(ends, F.lit("$")).otherwise(F.lit("")),
    )


def apply_robots_wildcards(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_cols: Sequence[str] = ("url",),
    host_col: str = "host",
    type_col: str = "rule",
    prefix_col: str = "path_prefix",
) -> DataFrame:
    """:func:`apply_robots` with full RFC 9309 path-pattern
    semantics: ``*`` matches any octet run and a trailing ``$``
    anchors the rule at the path end (``/*.pdf$`` — the pattern real
    robots files use constantly). Plain prefixes behave identically
    to :func:`apply_robots` (a prefix IS the wildcard-free special
    case). Precedence stays the RFC's: longest RULE (octets of the
    pattern, wildcards counted as written) wins, allow beats
    disallow on ties.

    The rule → regex compilation runs once per rule row on the slim
    broadcast table; the per-URL match is ``regexp_like`` with a
    column pattern (non-codegen, bounded by matching-host rule
    fan-out — rules-per-host is small by nature).
    """
    return _rep_verdict(
        df, rules, url_col, id_cols, host_col, type_col, prefix_col,
        F.regexp_like(F.col("_path"), F.col("_re")),
        rule_regex_col(F.col(prefix_col)).alias("_re"),
    )


def sql_rule_regex(expr: str) -> str:
    """DuckDB expression compiling a rule to the SAME regex as
    :func:`rule_regex_col` (generated from the same meta list)."""
    ends = f"({expr} LIKE '%$')"
    body = (
        f"CASE WHEN {ends} THEN substr({expr}, 1, length({expr}) - 1) "
        f"ELSE {expr} END"
    )
    for ch in _RULE_META:
        lit = ch.replace("'", "''")
        body = f"replace({body}, '{lit}', '\\{lit}')"
    body = f"replace({body}, '*', '.*')"
    return (
        f"('^' || {body} || CASE WHEN {ends} THEN '$' ELSE '' END)"
    )


def generate_wildcard_robots():
    """Deterministic (host, rule, path_prefix) rule table + url table
    exercising wildcard semantics: mid-pattern ``*``, ``$`` anchors,
    escaped-metachar paths, precedence between wildcard and literal
    rules, and allow-wins ties. Returns (rules_pdf, urls_pdf)."""
    import pandas as pd

    rules = []
    urls = []
    for h in range(12):
        host = f"w{h}.example.com"
        rules += [
            (host, "disallow", "/*.pdf$"),
            (host, "disallow", "/private*"),
            (host, "allow", "/private/ok/"),
            (host, "disallow", "/a+b/"),       # literal '+' must not be regex
            (host, "disallow", "/cgi/*/run$"),
        ]
        urls += [
            (f"https://{host}/doc-{h}.pdf",),          # blocked by $
            (f"https://{host}/doc-{h}.pdfx",),         # NOT blocked ($)
            (f"https://{host}/private/secret-{h}",),   # blocked by *
            (f"https://{host}/private/ok/page{h}",),   # allow wins (longer)
            (f"https://{host}/a+b/x{h}",),             # literal + blocked
            (f"https://{host}/aab/x{h}",),             # '+' not regex: free
            (f"https://{host}/cgi/v{h}/run",),         # mid-* with anchor
            (f"https://{host}/cgi/v{h}/run/more",),    # anchor: free
            (f"https://{host}/open/page-{h}",),        # no rule
        ]
    return (
        pd.DataFrame(rules, columns=["host", "rule", "path_prefix"]),
        pd.DataFrame(urls, columns=["url"]),
    )


def oracle_robots_wildcards_sql(
    urls_sql: str,
    rules_sql: str,
    id_cols: Sequence[str],
    url_col: str = "url",
) -> str:
    """DuckDB twin of :func:`apply_robots_wildcards` — same
    host/path algebra, the rule compiled via :func:`sql_rule_regex`,
    same (len, is_allow, prefix) precedence."""
    from med_doi_feature_extraction_spark.operators.urls import (
        sql_url_host,
    )

    ids = ", ".join(f'"{c}"' for c in id_cols)
    ids_u = ", ".join(f'u."{c}"' for c in id_cols)
    # the url column may itself be the id — emit once (Spark parity)
    url_out = "" if "url" in id_cols else ", u.url"
    rx = sql_rule_regex("r.path_prefix")
    return f"""
WITH u AS (
  SELECT {ids}, "{url_col}" AS url,
    {sql_url_host(f'"{url_col}"')} AS host,
    coalesce(nullif(
      regexp_extract("{url_col}",
        '^[a-zA-Z]+://[^/?#]*(/[^?#]*)', 1), ''), '/') AS path
  FROM {urls_sql}
),
m AS (
  SELECT {ids}, r.rule AS rtype, r.path_prefix AS rprefix,
    row_number() OVER (
      PARTITION BY {ids}
      ORDER BY length(r.path_prefix) DESC,
               CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END DESC,
               r.path_prefix DESC
    ) AS rn
  FROM u JOIN ({rules_sql}) r ON r.host = u.host
  WHERE regexp_matches(u.path, {rx})
),
best AS (SELECT * FROM m WHERE rn = 1)
SELECT {ids_u}{url_out},
       best.rtype AS robots_type,
       best.rprefix AS robots_prefix,
       CAST(CASE WHEN best.rtype IS NULL THEN 1
                 WHEN best.rtype = 'allow' THEN 1
                 ELSE 0 END AS BIGINT) AS robots_allowed
FROM u LEFT JOIN best USING ({ids})
"""
