"""CCAligned-style URL-based cross-lingual document alignment.

A multilingual web corpus carries the SAME logical page under
language-marked URL variants — ``/fr/page``, ``fr.site.com/page``,
``page_fr.html``, ``?lang=fr`` (El-Kishky et al. 2020, "CCAligned",
public method: language-identifier stripping + exact URL match). The
reference's analogue is the coalesced-record-id join surface
(``src/models.py`` record_id; ``src/services/deduplication_service.py``
key matching): one logical entity reached through several surface
keys. Here the stripped URL is that shared key, and alignment is an
equi-join of the pivot-language side against every other language —
the seed operation for mined bitext / translation-pair training data.

Design for 10^12 documents:

* Language detection + stripping is ONE pass of portable Column
  regexp algebra over the url — rides the scan inside whole-stage
  codegen, no UDF, nothing shuffles until the join.
* Each join side is first deduplicated to ONE deterministic row per
  ``(stripped_key, lang)`` (min url, a hash-agg with map-side
  partial), so join fanout per key is bounded by the language count
  (< 40 by construction of :data:`URL_LANG_CODES`) — a hot homepage
  key cannot quadratic-blow the join.
* The join itself is a plain shuffle hash equi-join on the stripped
  key; both sides are corpus-scale so neither is broadcast, and AQE
  handles residual key skew.

Every regex is RE2-safe (no lookaround, no backrefs in the PATTERN)
so the DuckDB oracle (:func:`oracle_align_cte`) runs the IDENTICAL
pattern strings; replacements differ only in backref syntax
(``$1`` Java / ``\\1`` RE2), generated from one template.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Frozen ISO-639-1 alternation used in every URL language pattern.
#: Deliberately a literal (no external list): the stripped key must be
#: reproducible across engines and time. ``en`` first is cosmetic —
#: alternation order does not matter for these patterns.
URL_LANG_CODES: tuple[str, ...] = (
    "en", "fr", "de", "es", "it", "pt", "nl", "ru", "ja", "ko",
    "ar", "tr", "pl", "sv", "da", "fi", "cs", "el", "he", "id",
    "th", "vi", "uk", "ro", "hu", "bg", "zh", "hi", "no", "sk",
)

_ALT = "|".join(URL_LANG_CODES)

#: (pattern, java_replacement, duckdb_replacement, global?) — the
#: stripping chain, applied IN ORDER to the lower-cased,
#: fragment-stripped url. One template drives both engines.
_STRIP_RULES: tuple[tuple[str, str, str, bool], ...] = (
    # 1. language subdomain:  https://fr.site.com/  ->  https://site.com/
    (rf"^([a-z]+://)(?:{_ALT})\.", "$1", r"\1", False),
    # 2. language path segment:  /fr/  or  /fr-ca/  ->  /
    (rf"/(?:{_ALT})(?:-[a-z]{{2}})?/", "/", "/", True),
    # 3. language final path segment:  /about/fr  ->  /about
    (rf"/(?:{_ALT})(?:-[a-z]{{2}})?$", "", "", False),
    # 4. language file suffix:  page_fr.html  ->  page.html
    (rf"([_.-])(?:{_ALT})(\.[a-z0-9]+)$", "$2", r"\2", False),
    # 5. language query param:  ?lang=fr&x=1  ->  ?&x=1  (cleaned below)
    (rf"([?&])(?:lang|hl|locale|language)=(?:{_ALT})(?:-[a-z]{{2}})?",
     "$1", r"\1", True),
    # 5b-5d. query-separator cleanup after rule 5 (all global: Spark's
    # regexp_replace is always global, so the oracle must pass 'g')
    (r"&&+", "&", "&", True),
    (r"\?&", "?", "?", True),
    (r"[?&]+$", "", "", True),
)

#: (pattern, group) detection probes, tried IN ORDER; the first
#: non-empty extract wins. Order mirrors stripping priority.
_DETECT_RULES: tuple[tuple[str, int], ...] = (
    (rf"^[a-z]+://({_ALT})\.", 1),
    (rf"/({_ALT})(-[a-z]{{2}})?/", 1),
    (rf"/({_ALT})(-[a-z]{{2}})?$", 1),
    (rf"[_.-]({_ALT})\.[a-z0-9]+$", 1),
    (rf"[?&](?:lang|hl|locale|language)=({_ALT})", 1),
)


def _norm(url: F.Column) -> F.Column:
    """Lower-case, fragment stripped — the common preamble."""
    return F.lower(F.regexp_replace(url, r"#.*$", ""))


def strip_lang_url(url: F.Column) -> F.Column:
    """The language-stripped alignment key (pure Column algebra)."""
    u = _norm(url)
    for pat, java_rep, _, _g in _STRIP_RULES:
        u = F.regexp_replace(u, pat, java_rep)
    return u


def detect_url_lang(url: F.Column) -> F.Column:
    """First language code the URL carries (subdomain > path >
    final-segment > file-suffix > query param), '' when none."""
    u = _norm(url)
    out = F.lit("")
    # fold right-to-left so earlier probes take priority
    for pat, grp in reversed(_DETECT_RULES):
        hit = F.regexp_extract(u, pat, grp)
        out = F.when(F.length(hit) > 0, hit).otherwise(out)
    return out


def url_lang_profile(
    df: DataFrame, url_col: str = "url", lang_col: str = "lang"
) -> DataFrame:
    """Per (url-declared, doc-declared) language census with a
    mismatch flag — the admission audit that catches machine-translated
    or mislabelled sections (url says /fr/, classifier says en).
    One hash-agg; the detection expression rides the scan."""
    ulang = detect_url_lang(F.col(url_col))
    dlang = F.coalesce(F.lower(F.col(lang_col)), F.lit(""))
    return (
        df.select(
            ulang.alias("url_lang"),
            dlang.alias("doc_lang"),
        )
        .groupBy("url_lang", "doc_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "mismatch",
            (F.length(F.col("url_lang")) > 0)
            & (F.length(F.col("doc_lang")) > 0)
            & (F.col("url_lang") != F.col("doc_lang")),
        )
    )


def align_pairs(
    df: DataFrame,
    url_col: str = "url",
    lang_col: str = "lang",
    text_col: str = "text",
    pivot_lang: str = "en",
) -> DataFrame:
    """Cross-lingual URL-aligned document pairs.

    Effective language = URL-detected code, falling back to the doc
    language column when the URL is unmarked. Rows with the pivot
    language form the source side; every other non-empty language the
    target side. Each side is reduced to ONE deterministic row per
    (key, lang) — min url, with that row's text length carried via a
    min-struct — before the equi-join, so fanout per key is bounded
    by ``len(URL_LANG_CODES)``.

    Returns (align_key, src_url, tgt_url, tgt_lang, len_ratio) with
    len_ratio = round(tgt_len / src_len, 6) (0.0 when src side is
    empty text) — the standard bitext length-ratio filter feature.
    """
    ulang = detect_url_lang(F.col(url_col))
    eff = F.when(F.length(ulang) > 0, ulang).otherwise(
        F.coalesce(F.lower(F.col(lang_col)), F.lit(""))
    )
    base = df.select(
        strip_lang_url(F.col(url_col)).alias("align_key"),
        F.col(url_col).alias("u"),
        eff.alias("eff_lang"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("tlen"),
    )
    # one row per (key, lang): min (url, len) struct — deterministic,
    # map-side combinable
    per = (
        base.groupBy("align_key", "eff_lang")
        .agg(F.min(F.struct("u", "tlen")).alias("pick"))
        .select(
            "align_key",
            "eff_lang",
            F.col("pick.u").alias("u"),
            F.col("pick.tlen").alias("tlen"),
        )
    )
    src = per.where(F.col("eff_lang") == pivot_lang).select(
        "align_key",
        F.col("u").alias("src_url"),
        F.col("tlen").alias("src_len"),
    )
    tgt = per.where(
        (F.col("eff_lang") != pivot_lang) & (F.length("eff_lang") > 0)
    ).select(
        "align_key",
        F.col("u").alias("tgt_url"),
        F.col("eff_lang").alias("tgt_lang"),
        F.col("tlen").alias("tgt_len"),
    )
    # portable 6-dp round (the kernels.fixed rule; ratio ≥ 0
    # so no sign branch): native round() is engine-divergent at exact
    # half boundaries
    ratio = F.col("tgt_len") / F.col("src_len")
    r6 = F.floor(ratio * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return src.join(tgt, "align_key").select(
        "align_key",
        "src_url",
        "tgt_url",
        "tgt_lang",
        (F.when(F.col("src_len") > 0, r6).otherwise(F.lit(0.0)) + F.lit(0.0))
        .cast("double")
        .alias("len_ratio"),
    )


# ----------------------------------------------------------- hreflang

#: any <link ...> tag mentioning hreflang — attribute order handled by
#: per-tag extracts below, not by the tag pattern
HREFLANG_TAG_RE = r"(?i)<link[^>]*hreflang[^>]*>"
_HL_ATTR = r"(?i)hreflang=[\"']([a-zA-Z0-9-]+)"
_HREF_ATTR = r"(?i)href=[\"']([^\"']*)"


def hreflang_pairs(
    df: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Explicit translation edges the site itself declares:
    ``<link rel="alternate" hreflang="fr" href="...">`` → one
    (url, hreflang, alt_url) row per declaration. The precision
    complement to :func:`align_pairs`' URL heuristic — sites that
    declare hreflang give alignment for free, and disagreement
    between the two is a labeling-quality audit.

    One regexp extract-all + explode (the html column is pruned
    before the explode so the wide payload never survives into a
    shuffle), per-tag attribute extracts are order-insensitive.
    """
    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    tags = F.explode(
        F.regexp_extract_all(h, F.lit(HREFLANG_TAG_RE), 0)
    )
    x = df.select(F.col(url_col).alias("url"), tags.alias("_tag"))
    hl = F.lower(F.regexp_extract("_tag", _HL_ATTR, 1))
    href = F.regexp_extract("_tag", _HREF_ATTR, 1)
    return x.select(
        "url", hl.alias("hreflang"), href.alias("alt_url")
    ).where((F.length("hreflang") > 0) & (F.length("alt_url") > 0))


def hreflang_audit(pairs: DataFrame) -> DataFrame:
    """Per declaring page: alternate count, x-default flag, and
    whether the page self-references (required by the hreflang spec —
    its absence is the classic implementation bug). One hash-agg."""
    return pairs.groupBy("url").agg(
        F.count(F.lit(1)).cast("long").alias("n_alternates"),
        F.max((F.col("hreflang") == "x-default").cast("int"))
        .cast("boolean")
        .alias("has_xdefault"),
        F.max((F.col("alt_url") == F.col("url")).cast("int"))
        .cast("boolean")
        .alias("self_declared"),
    )


def generate_hreflang_pages(n_clusters: int = 70, seed: int = 41):
    """Translation clusters whose pages declare each other via
    hreflang links: varied attribute order, quote style, x-default,
    a broken stratum missing the self-reference, and pages with no
    hreflang at all. Returns pandas DataFrame (url, html)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    others = ["fr", "de", "es", "pt", "it"]
    rows = []
    for c in range(n_clusters):
        host = f"site{c % 8}.example.com"
        langs = ["en"] + list(
            rng.choice(others, size=int(rng.integers(1, 4)), replace=False)
        )
        urls = {lg: f"https://{host}/{lg}/doc-{c}" for lg in langs}
        for lg in langs:
            tags = []
            for lg2 in langs:
                if lg2 == lg and c % 6 == 0:
                    continue  # broken stratum: missing self-reference
                q = '"' if (c + len(tags)) % 2 == 0 else "'"
                if len(tags) % 2 == 0:
                    tags.append(
                        f"<link rel={q}alternate{q} hreflang={q}{lg2}{q} "
                        f"href={q}{urls[lg2]}{q}>"
                    )
                else:  # attribute order flipped
                    tags.append(
                        f"<link href={q}{urls[lg2]}{q} "
                        f"hreflang={q}{lg2}{q} rel={q}alternate{q}>"
                    )
            if c % 4 == 0:
                tags.append(
                    f'<link rel="alternate" hreflang="x-default" '
                    f'href="{urls["en"]}">'
                )
            html = (
                "<html><head><title>doc</title>" + "".join(tags)
                + f"</head><body><p>body {c} {lg}</p></body></html>"
            )
            rows.append((urls[lg], html))
        if c % 5 == 0:  # no-hreflang page
            rows.append(
                (f"https://{host}/plain-{c}",
                 "<html><head></head><body>plain</body></html>")
            )
    return pd.DataFrame(rows, columns=["url", "html"])


def oracle_hreflang_sql(parquet_glob: str) -> str:
    """DuckDB query mirroring :func:`hreflang_pairs` (pairs only)."""
    tag_re = HREFLANG_TAG_RE.replace("'", "''")
    hl = _HL_ATTR.replace("'", "''")
    href = _HREF_ATTR.replace("'", "''")
    return f"""
WITH t AS (
  SELECT url,
         unnest(regexp_extract_all(coalesce(html, ''), '{tag_re}', 0))
             AS tag
  FROM read_parquet('{parquet_glob}')
)
SELECT url,
       lower(regexp_extract(tag, '{hl}', 1)) AS hreflang,
       regexp_extract(tag, '{href}', 1) AS alt_url
FROM t
WHERE length(regexp_extract(tag, '{hl}', 1)) > 0
  AND length(regexp_extract(tag, '{href}', 1)) > 0
"""


# ------------------------------------------------------------- fixture

#: bump when fixture/operator semantics change (seam cache key)
ALIGN_VERSION = "align/v1"


def generate_multilingual_pages(n_base: int = 220, seed: int = 97):
    """Deterministic multilingual crawl fixture: each base page is
    published under language-marked URL variants in ONE of five site
    styles (path / subdomain / file-suffix / query-param /
    final-segment), plus unmarked pages (doc-lang fallback), repeated
    snapshots (min-struct dedupe path) and a sprinkle of url-vs-doc
    language mismatches (the profile audit's quarry).

    Returns a pandas DataFrame (url, warc_ts, lang, text).
    """
    from datetime import datetime, timedelta

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    others = ["fr", "de", "es", "it", "pt", "ru", "ja"]
    base_ts = datetime(2024, 3, 1)
    rows = []
    for i in range(n_base):
        host = f"site{i % 9}.example.com"
        slug = f"article-{i}"
        style = i % 5
        langs = ["en"] if rng.random() < 0.9 else []
        langs += list(
            rng.choice(others, size=int(rng.integers(0, 4)), replace=False)
        )
        if not langs:
            langs = ["fr"]
        for j, lg in enumerate(langs):
            if style == 0:
                url = f"https://{host}/{lg}/{slug}"
            elif style == 1:
                url = f"https://{lg}.{host}/{slug}"
            elif style == 2:
                url = f"https://{host}/{slug}_{lg}.html"
            elif style == 3:
                url = f"https://{host}/{slug}?lang={lg}&v=1"
            else:
                url = f"https://{host}/{slug}/{lg}"
            # 10% url-vs-doc language mismatch
            doc_lang = lg if rng.random() >= 0.1 else str(rng.choice(others))
            text = f"doc {i} {lg} " * int(rng.integers(3, 40))
            ts = base_ts + timedelta(hours=i, minutes=7 * j)
            rows.append((url, ts, doc_lang, text))
            if i % 7 == 0:  # re-crawl snapshot, different length
                rows.append(
                    (url, ts + timedelta(days=2), doc_lang, text + "more ")
                )
        if i % 11 == 0:  # unmarked URL — doc-lang fallback path
            url = f"https://{host}/plain-{slug}"
            lg = str(rng.choice(["en"] + others))
            rows.append(
                (url, base_ts + timedelta(hours=i, minutes=59), lg,
                 f"plain {i} " * int(rng.integers(3, 20)))
            )
    return pd.DataFrame(rows, columns=["url", "warc_ts", "lang", "text"])


# ---------------------------------------------------------------- oracle


def _sql_strip(expr: str) -> str:
    """DuckDB expression computing strip_lang_url over ``expr`` —
    generated from the SAME rule table the Spark chain uses."""
    out = f"regexp_replace(lower({expr}), '#.*$', '')"
    for pat, _, duck_rep, g in _STRIP_RULES:
        pat_sql = pat.replace("'", "''")
        rep_sql = duck_rep
        flag = ", 'g'" if g else ""
        out = f"regexp_replace({out}, '{pat_sql}', '{rep_sql}'{flag})"
    return out


def _sql_detect(expr: str) -> str:
    """DuckDB expression computing detect_url_lang over ``expr``."""
    norm = f"regexp_replace(lower({expr}), '#.*$', '')"
    out = "''"
    for pat, grp in reversed(_DETECT_RULES):
        pat_sql = pat.replace("'", "''")
        hit = f"regexp_extract({norm}, '{pat_sql}', {grp})"
        out = f"CASE WHEN length({hit}) > 0 THEN {hit} ELSE {out} END"
    return out


def oracle_align_cte(parquet_glob: str, pivot_lang: str = "en") -> str:
    """``base/per/src/tgt`` CTE bodies mirroring :func:`align_pairs`
    1:1 for DuckDB (append after ``WITH``)."""
    return f"""
base AS (
  SELECT {_sql_strip('url')} AS align_key,
         url AS u,
         CASE WHEN length({_sql_detect('url')}) > 0
              THEN {_sql_detect('url')}
              ELSE coalesce(lower(lang), '') END AS eff_lang,
         length(coalesce(text, '')) AS tlen
  FROM read_parquet('{parquet_glob}')
),
per AS (
  SELECT align_key, eff_lang,
         min(struct_pack(u := u, tlen := tlen)) AS pick
  FROM base GROUP BY 1, 2
),
per2 AS (
  SELECT align_key, eff_lang, pick.u AS u, pick.tlen AS tlen
  FROM per
),
src AS (
  SELECT align_key, u AS src_url, tlen AS src_len
  FROM per2 WHERE eff_lang = '{pivot_lang}'
),
tgt AS (
  SELECT align_key, u AS tgt_url, eff_lang AS tgt_lang, tlen AS tgt_len
  FROM per2 WHERE eff_lang <> '{pivot_lang}' AND length(eff_lang) > 0
)
"""
