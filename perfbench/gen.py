"""Seeded input generators for the benchmark, cached per (kind, seed, size).

Pages come from the engine's own ``sources.pages`` generator, written as
several parquet files with small row groups the way a crawl table is laid
out. Documents are an open-vocabulary corpus (Zipf over tens of thousands
of synthetic tokens, log-normal lengths, a language mix) with a planted
share of near-duplicate edits whose source ids are recorded.

Generation runs in this one process, before any Spark session exists, and
is not part of any timed figure.
"""

from __future__ import annotations

import json
import math
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: pages: files per table and rows per file. Each file is cut to a fixed
#: row count from ~1,260 generated rows (120 urls, ~10.5 snapshots each),
#: so every seed yields the same number of rows.
PAGE_FILES, ROWS_PER_FILE, URLS_PER_FILE = 4, 1_000, 120
PAGES_ROW_GROUP = 256
PAGES_HOT_DOMAIN_FRAC = 0.2

#: documents: corpus size, vocabulary size.
N_DOCS, VOCAB_SIZE = 1_000, 30_000
DOCS_ROW_GROUP = 125
DUP_FRAC = 0.08
LANG_MIX = (("en", 0.55), ("de", 0.15), ("fr", 0.12), ("es", 0.12), ("zh", 0.06))
#: bm25 query terms (the contract query's term set), planted in the vocabulary
QUERY_TERMS = ("spark", "merge", "window", "batch")

_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_CJK = [chr(0x4E00 + i) for i in range(600)]


def _done(path: Path) -> bool:
    return (path / "_DONE").exists()


def _commit(tmp: Path, final: Path, meta: dict) -> None:
    (tmp / "meta.json").write_text(json.dumps(meta, sort_keys=True))
    (tmp / "_DONE").write_text("ok")
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)


def pages(cache: Path, seed: int) -> Path:
    """pages/ (multi-file) + dim.parquet + truth.parquet under one dir."""
    from med_doi_feature_extraction_spark.sources.pages import (
        generate_dim_snapshots,
        generate_pages,
    )

    out = cache / f"pages-s{seed}-n{PAGE_FILES * ROWS_PER_FILE}"
    if _done(out):
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "pages").mkdir(parents=True)
    frames = []
    for i in range(PAGE_FILES):
        pdf = generate_pages(
            n_urls=URLS_PER_FILE,
            seed=seed * 1_000 + i,
            hot_domain_frac=PAGES_HOT_DOMAIN_FRAC,
        )
        if len(pdf) < ROWS_PER_FILE:
            raise RuntimeError(f"pages: seed {seed} file {i} has only {len(pdf)} rows")
        pdf = pdf.iloc[:ROWS_PER_FILE]
        pdf["url"] = pdf["url"].str.replace("/page/", f"/page/{i}_", regex=False)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            tmp / "pages" / f"part-{i:03d}.parquet",
            row_group_size=PAGES_ROW_GROUP,
        )
        frames.append(pdf[["url", "warc_ts", "text"]])
    truth = pd.concat(frames, ignore_index=True)
    dim = generate_dim_snapshots(truth, seed=seed * 1_000 + 999)
    pq.write_table(pa.Table.from_pandas(dim, preserve_index=False), tmp / "dim.parquet")
    pq.write_table(pa.Table.from_pandas(truth, preserve_index=False), tmp / "truth.parquet")
    table_bytes = sum(f.stat().st_size for f in (tmp / "pages").iterdir())
    _commit(tmp, out, {"rows": len(truth), "files": PAGE_FILES, "table_bytes": table_bytes})
    return out


def _vocab(rng: np.random.Generator, n: int, cjk: bool) -> list[str]:
    """n distinct synthetic tokens; the same rank gets a stable string."""
    words: list[str] = []
    seen: set[str] = set()
    alphabet = _CJK if cjk else _SYL
    while len(words) < n:
        k = int(rng.integers(1, 4)) if cjk else int(rng.integers(1, 5))
        w = "".join(alphabet[j] for j in rng.integers(0, len(alphabet), size=k))
        if w not in seen and w not in QUERY_TERMS:
            seen.add(w)
            words.append(w)
    return words


def _edit(tokens: list[str], rng: np.random.Generator, vocab: list[str]) -> list[str]:
    """A near-duplicate: substitute, drop or insert about 4% of tokens."""
    out = list(tokens)
    n_edits = max(1, int(round(0.04 * len(out))))
    for _ in range(n_edits):
        op = rng.random()
        i = int(rng.integers(0, len(out)))
        if op < 0.5:
            out[i] = vocab[int(rng.integers(0, len(vocab)))]
        elif op < 0.75 and len(out) > 1:
            out.pop(i)
        else:
            out.insert(i, vocab[int(rng.integers(0, len(vocab)))])
    return out


def documents(cache: Path, seed: int) -> Path:
    """docs.parquet(doc_id, text, lang) + planted.json [[dup_id, source_id]]."""
    out = cache / f"docs-s{seed}-n{N_DOCS}"
    if _done(out):
        return out
    n_docs, vocab_size = N_DOCS, VOCAB_SIZE
    rng = np.random.default_rng(seed)
    langs = [code for code, _ in LANG_MIX]
    share = np.array([w for _, w in LANG_MIX])
    per_lang = {
        code: _vocab(rng, max(64, int(vocab_size * w)), cjk=(code == "zh"))
        for code, w in LANG_MIX
    }
    # the query terms sit at mid ranks of the english list
    for j, term in enumerate(QUERY_TERMS):
        per_lang["en"].insert(40 + 25 * j, term)
    zipf_p = {}
    for code, words in per_lang.items():
        ranks = np.arange(1, len(words) + 1, dtype=np.float64)
        p = 1.0 / (ranks + 2.7) ** 1.07
        zipf_p[code] = p / p.sum()

    n_dups = int(n_docs * DUP_FRAC)
    n_orig = n_docs - n_dups
    ids = rng.permutation(n_docs).astype(np.int64) + 1  # shuffled ids
    rows, tokens_of = [], {}
    for k in range(n_orig):
        lang = langs[int(rng.choice(len(langs), p=share))]
        n_tok = int(min(400, max(8, rng.lognormal(math.log(60), 0.6))))
        words = per_lang[lang]
        toks = [words[j] for j in rng.choice(len(words), size=n_tok, p=zipf_p[lang])]
        doc_id = int(ids[k])
        tokens_of[doc_id] = (toks, lang)
        rows.append((doc_id, " ".join(toks), lang))
    planted = []
    for k in range(n_orig, n_docs):
        src = int(ids[int(rng.integers(0, n_orig))])
        toks, lang = tokens_of[src]
        dup = _edit(toks, rng, per_lang[lang])
        doc_id = int(ids[k])
        planted.append([doc_id, src])
        rows.append((doc_id, " ".join(dup), lang))
    df = pd.DataFrame(rows, columns=["doc_id", "text", "lang"]).sort_values("doc_id")
    distinct = len({t for text in df["text"] for t in text.split()})
    if distinct <= 64:
        raise RuntimeError(f"documents: only {distinct} distinct tokens; need > 64")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        tmp / "docs.parquet",
        row_group_size=DOCS_ROW_GROUP,
    )
    (tmp / "planted.json").write_text(json.dumps(planted))
    _commit(tmp, out, {"rows": len(df), "vocab_distinct": distinct, "planted": len(planted)})
    return out


def meta(path: Path) -> dict:
    return json.loads((path / "meta.json").read_text())

