"""Crawl hygiene: URL trap detection, tracking-param stripping, and
query-parameter census.

A 10^12-page crawl wastes a large fraction of its fetch budget on
crawler traps — calendar archives, session-id URL spaces, repeated
path cycles — and fragments its dedup keys on tracking parameters
(``utm_*``/``gclid``) that change per referral while the page does
not. The reference's analogue is input sanitation before the
per-record loop (``src/services/input_handler.py`` validation +
``src/models.py`` key coalescing); at web scale that sanitation is a
scan-stage column battery, not per-record code.

Everything here is portable Column algebra (regex + array lambdas,
no UDF, no backreferences — RE2-safe so the DuckDB oracle runs the
IDENTICAL patterns), riding whole-stage codegen on the scan; the
only shuffle in the whole surface is the census hash-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Frozen tracking-parameter names (lower-case). ``utm_*`` is matched
#: by prefix pattern, the rest exactly. A literal, not a fetched list:
#: dedup keys must be reproducible across engines and time.
TRACKING_PARAMS: tuple[str, ...] = (
    "gclid", "fbclid", "msclkid", "dclid", "twclid", "igshid",
    "yclid", "mc_cid", "mc_eid", "_ga", "_gl", "ref_src", "spm",
    "cmpid", "s_kwcid",
)

_TRACK_ALT = "utm_[a-z0-9_]+|" + "|".join(TRACKING_PARAMS)
_SESS_ALT = "phpsessid|jsessionid|sessionid|session_id|sid|aspsessionid"

#: (pattern, java_replacement, duckdb_replacement, global?) — applied
#: in order to the lower()d, fragment-stripped url (same template
#: discipline as operators/align.py).
STRIP_TRACK_RULES: tuple[tuple[str, str, str, bool], ...] = (
    (rf"([?&])(?:{_TRACK_ALT})=[^&#]*", "$1", r"\1", True),
    (r"&&+", "&", "&", True),
    (r"\?&", "?", "?", True),
    (r"[?&]+$", "", "", True),
)

_CAL_RE = r"/(19|20)[0-9]{2}/[0-9]{1,2}(/[0-9]{1,2})?(/|$)"
_NUM_RE = r"/[0-9]{8,}(/|$)"
_PATH_RE = r"^[a-z]+://[^/?#]*(/[^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def _norm(url: F.Column) -> F.Column:
    return F.lower(F.regexp_replace(url, r"#.*$", ""))


def strip_tracking(url: F.Column) -> F.Column:
    """Tracking parameters removed (``utm_*``, click ids, analytics
    session ids) with query-separator cleanup — the canonical dedup
    key v2. Pure regexp chain, rides the scan."""
    u = _norm(url)
    for pat, java_rep, _, _g in STRIP_TRACK_RULES:
        u = F.regexp_replace(u, pat, java_rep)
    return u


def _segs(u: F.Column) -> F.Column:
    path = F.regexp_extract(u, _PATH_RE, 1)
    return F.filter(F.split(path, "/"), lambda s: F.length(s) > 0)


def _trap_battery(url: F.Column) -> dict[str, F.Column]:
    """Every :func:`trap_features` column but ``url``, in output order,
    built once so the score and its parts cannot drift apart."""
    u = _norm(url)
    seg = _segs(u)
    n = F.size(seg)
    repeat_seg = F.when(
        n >= 2,
        F.exists(
            F.sequence(F.lit(2), n),
            lambda i: F.element_at(seg, i) == F.element_at(seg, i - 1),
        ),
    ).otherwise(F.lit(False))
    q = F.regexp_extract(u, _QUERY_RE, 1)
    n_params = F.when(F.length(q) == 0, F.lit(0)).otherwise(
        F.size(F.split(q, "&"))
    )
    calendar = u.rlike(_CAL_RE)
    numeric = u.rlike(_NUM_RE)
    sess = u.rlike(rf"[?&](?:{_SESS_ALT})=[a-z0-9]{{8,}}")
    pct = F.regexp_count(u, F.lit("%[0-9a-f]{2}"))
    score = (
        repeat_seg.cast("int")
        + calendar.cast("int")
        + numeric.cast("int")
        + sess.cast("int")
        + (n > 8).cast("int")
        + (n_params > 6).cast("int")
        + (pct >= 5).cast("int")
    )
    return {
        "depth": n.cast("int"),
        "n_params": n_params.cast("int"),
        "repeat_seg": repeat_seg,
        "calendar_path": calendar,
        "long_numeric": numeric,
        "session_param": sess,
        "pct_encoded": pct.cast("int"),
        "trap_score": score.cast("int"),
    }


def trap_score_col(url: F.Column) -> F.Column:
    """The :func:`trap_features` score as a single reusable Column —
    the admission pipeline's gate input (same formula, one codegen
    expression)."""
    return _trap_battery(url)["trap_score"]


def trap_features(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-URL crawler-trap battery:

    ``depth`` (path segments), ``n_params``, ``repeat_seg`` (adjacent
    identical path segments — ``/cat/cat/``), ``calendar_path``
    (``/2023/07[/15]/`` archive shapes), ``long_numeric`` (8+ digit
    segment), ``session_param`` (session-id query key with a long
    value), ``pct_encoded`` (count of %-escapes), and
    ``trap_score`` = flags + deep-path + param-spray penalties.

    The adjacent-repeat probe is array-lambda algebra (``exists`` over
    positions 2..n), NOT a regex backreference — RE2 (the oracle
    engine) has none, and at 10^12 rows the array form is codegen'd.
    """
    return df.select(
        F.col(url_col).alias("url"),
        *(
            c.alias(name)
            for name, c in _trap_battery(F.col(url_col)).items()
        ),
    )


def tracking_strip(df: DataFrame, url_col: str = "url") -> DataFrame:
    """(url, clean_url, changed) — the dedup-key normalization audit."""
    clean = strip_tracking(F.col(url_col))
    return df.select(
        F.col(url_col).alias("url"),
        clean.alias("clean_url"),
        (clean != F.lower(F.regexp_replace(F.col(url_col), r"#.*$", "")))
        .alias("changed"),
    )


def param_census(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Query-parameter key census: (param, n, n_urls, is_tracking) —
    the evidence table behind extending :data:`TRACKING_PARAMS` and
    spotting session-id URL spaces. One explode + one hash-agg with
    map-side partial combine; Zipf-headed keys are absorbed by the
    partial aggregation exactly like token counting."""
    u = _norm(F.col(url_col))
    q = F.regexp_extract(u, _QUERY_RE, 1)
    params = F.filter(F.split(q, "&"), lambda s: F.length(s) > 0)
    ex = df.select(
        F.col(url_col).alias("url"), F.explode(params).alias("p")
    ).select("url", F.regexp_extract("p", "^([^=]*)", 1).alias("param"))
    is_track = F.col("param").rlike(rf"^(?:{_TRACK_ALT})$")
    return (
        ex.groupBy("param")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("url").cast("long").alias("n_urls"),
        )
        .withColumn("is_tracking", is_track)
    )


# ------------------------------------------------------------- fixture

HYGIENE_VERSION = "hygiene/v1"


def generate_crawl_urls(n: int = 600, seed: int = 131):
    """Deterministic adversarial URL fixture: normal pages, calendar
    archives, adjacent-repeat paths, session-id spaces, tracking-param
    referrals, deep paths, long numeric ids, %-encoded runs.

    Returns a pandas DataFrame (url,).
    """
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        d = i % 7
        kind = i % 8
        if kind == 0:
            url = f"https://site{d}.example.com/section/page-{i}"
        elif kind == 1:
            m, day = 1 + i % 12, 1 + i % 28
            url = f"https://blog{d}.example.com/20{15 + i % 10}/{m}/{day}/post-{i}"
        elif kind == 2:
            seg = f"cat{i % 5}"
            url = f"https://site{d}.example.com/{seg}/{seg}/item-{i}"
        elif kind == 3:
            sid = "".join(rng.choice(list("0123456789abcdef"), 16))
            url = f"https://shop{d}.example.com/item-{i}?phpsessid={sid}&x=1"
        elif kind == 4:
            url = (
                f"https://news{d}.example.com/story-{i}"
                f"?utm_source=feed&utm_medium=rss&id={i}"
            )
        elif kind == 5:
            deep = "/".join(f"s{j}" for j in range(10))
            url = f"https://site{d}.example.com/{deep}/page-{i}"
        elif kind == 6:
            url = f"https://site{d}.example.com/profile/{10**9 + i}/about"
        else:
            enc = "%2f%3d%20%41%42" * 2
            url = f"https://site{d}.example.com/x{enc}/page-{i}?a=1&b=2"
        rows.append((url,))
    return pd.DataFrame(rows, columns=["url"])


def generate_subdomain_urls(seed: int = 173):
    """Subdomain-census fixture: legit domains (few hosts, many
    pages), wildcard-spam domains (many hosts, one page each), and
    multi-label-suffix registrable domains (``*.co.uk``).
    Returns pandas DataFrame (url,)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    for d in range(4):  # legit: 3 hosts, ~60 pages each
        for h in ("www", "blog", "shop")[: 1 + d % 3]:
            for p in range(int(rng.integers(30, 60))):
                rows.append((f"https://{h}.legit{d}-site.com/p/{p}",))
    for d in range(3):  # spam farm: 80 hosts, 1-2 pages each
        for h in range(80):
            for p in range(int(rng.integers(1, 3))):
                rows.append((f"https://u{h}.farm{d}-net.org/x{p}",))
    for h in ("a", "b"):  # multi-label suffix: domain = brand.co.uk
        for p in range(20):
            rows.append((f"https://{h}.brand.co.uk/item/{p}",))
    return pd.DataFrame(rows, columns=["url"])


# ---------------------------------------------------------------- oracle


def _sql_norm(expr: str) -> str:
    return f"regexp_replace(lower({expr}), '#.*$', '')"


def sql_strip_tracking(expr: str) -> str:
    """DuckDB expression mirroring :func:`strip_tracking`, generated
    from the SAME rule table."""
    out = _sql_norm(expr)
    for pat, _, duck_rep, g in STRIP_TRACK_RULES:
        flag = ", 'g'" if g else ""
        out = (
            f"regexp_replace({out}, '{pat}', '{duck_rep}'{flag})"
        )
    return out


def sql_trap_score(url_expr: str) -> str:
    """DuckDB expression form of :func:`trap_score_col` (for oracle
    composition in downstream pipelines)."""
    u = _sql_norm(url_expr)
    seg = (
        f"list_filter(string_split(regexp_extract({u}, "
        f"'^[a-z]+://[^/?#]*(/[^?#]*)', 1), '/'), x -> length(x) > 0)"
    )
    q = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    n_params = (
        f"CASE WHEN length({q}) = 0 THEN 0 "
        f"ELSE len(string_split({q}, '&')) END"
    )
    rep = (
        f"(len({seg}) >= 2 AND len(list_filter(range(2, len({seg}) + 1), "
        f"i -> ({seg})[i] = ({seg})[i-1])) > 0)"
    )
    pct = f"len(regexp_extract_all({u}, '%[0-9a-f]{{2}}'))"
    return (
        f"CAST(CAST({rep} AS INT)"
        f" + CAST(regexp_matches({u}, '{_CAL_RE}') AS INT)"
        f" + CAST(regexp_matches({u}, '{_NUM_RE}') AS INT)"
        f" + CAST(regexp_matches({u},"
        f" '[?&](?:{_SESS_ALT})=[a-z0-9]{{8,}}') AS INT)"
        f" + CAST(len({seg}) > 8 AS INT)"
        f" + CAST(({n_params}) > 6 AS INT)"
        f" + CAST(({pct}) >= 5 AS INT) AS INT)"
    )


def sql_trap_features(parquet_glob: str) -> str:
    """Full DuckDB query mirroring :func:`trap_features`."""
    return f"""
WITH b AS (
  SELECT url, {_sql_norm('url')} AS u FROM read_parquet('{parquet_glob}')
), s AS (
  SELECT url, u,
         list_filter(string_split(regexp_extract(u,
             '^[a-z]+://[^/?#]*(/[^?#]*)', 1), '/'),
             x -> length(x) > 0) AS seg,
         regexp_extract(u, '\\?([^#]*)', 1) AS q
  FROM b
), f AS (
  SELECT url,
         CAST(len(seg) AS INT) AS depth,
         CAST(CASE WHEN length(q) = 0 THEN 0
              ELSE len(string_split(q, '&')) END AS INT) AS n_params,
         (len(seg) >= 2 AND len(list_filter(range(2, len(seg) + 1),
              i -> seg[i] = seg[i - 1])) > 0) AS repeat_seg,
         regexp_matches(u, '/(19|20)[0-9]{{2}}/[0-9]{{1,2}}(/[0-9]{{1,2}})?(/|$)')
             AS calendar_path,
         regexp_matches(u, '/[0-9]{{8,}}(/|$)') AS long_numeric,
         regexp_matches(u, '[?&](?:{_SESS_ALT})=[a-z0-9]{{8,}}')
             AS session_param,
         CAST(len(regexp_extract_all(u, '%[0-9a-f]{{2}}')) AS INT)
             AS pct_encoded,
         len(seg) AS _n
  FROM s
)
SELECT url, depth, n_params, repeat_seg, calendar_path, long_numeric,
       session_param, pct_encoded,
       CAST(CAST(repeat_seg AS INT) + CAST(calendar_path AS INT)
            + CAST(long_numeric AS INT) + CAST(session_param AS INT)
            + CAST(_n > 8 AS INT) + CAST(n_params > 6 AS INT)
            + CAST(pct_encoded >= 5 AS INT) AS INT) AS trap_score
FROM f
"""


def sql_param_census(parquet_glob: str) -> str:
    """Full DuckDB query mirroring :func:`param_census`."""
    return f"""
WITH b AS (
  SELECT url, regexp_extract({_sql_norm('url')}, '\\?([^#]*)', 1) AS q
  FROM read_parquet('{parquet_glob}')
), e AS (
  SELECT url, regexp_extract(p, '^([^=]*)', 1) AS param
  FROM b, unnest(list_filter(string_split(q, '&'),
                             x -> length(x) > 0)) AS t(p)
)
SELECT param, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
       regexp_matches(param, '^(?:{_TRACK_ALT})$') AS is_tracking
FROM e GROUP BY param
"""
