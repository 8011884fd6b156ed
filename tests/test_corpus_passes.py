"""One corpus pass per aggregate.

Executed-plan guards for the KN, DSIR, BM25 and tf-idf operators:
after running, the final adaptive plan may read the text only as often
as the operator has distinct aggregates to feed — every other consumer
of a shared aggregate reads its exchange as a ``ReusedExchange`` (never
printed with its subtree) or rides the same pass. Counted on
``tools/dump_plans.plan_counts``: ``Generate`` = explode passes over the
text, ``FileScan`` = scans of the corpus.

Plus DuckDB oracle parity of the four contract queries over a tiny
corpus with the edge documents the rewrites must keep: empty,
whitespace-only, NULL and single-token texts, and a text whose
leading tab survives ``trim`` as an empty first token.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from med_doi_feature_extraction_spark.operators import corpus_stats, dsir, lm
from tools.check_contract import frame_hash
from tools.dump_plans import plan_counts

TEXTS = [
    "spark merge window batch spark",
    "the spark job ran a merge of the window",
    "window window batch of rows",
    "",
    "   ",
    None,
    "spark",
    "merge",
    "batch merge spark window join scan",
    "a b c a b",
    "the rows of the batch",
    "join scan join scan spark",
    "\tspark merge window",  # trim keeps the tab: a leading "" token
]


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """One ``documents.parquet`` file, readable by both engines."""
    d = tmp_path_factory.mktemp("corpus")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(TEXTS)), pa.int64()),
                "text": pa.array(TEXTS, pa.string()),
                "lang": ["en" if i % 3 else "de" for i in range(len(TEXTS))],
            }
        ),
        d / "documents.parquet",
    )
    return str(d)


@pytest.fixture(scope="module")
def docs(spark, corpus_dir):
    return spark.read.parquet(f"{corpus_dir}/documents.parquet")


def _passes(df) -> dict[str, int]:
    """Counts over the final plan of ``df`` after it ran."""
    df.collect()
    return plan_counts(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    )


def test_kn_train_and_score_read_the_text_twice(docs):
    """One bigram pass trains every table, one unit pass scores; the
    doc spine rides the unit pass."""
    bg, cx, co = lm.train_kn_bigram_lm(docs, "text")
    c = _passes(lm.kn_quality_score(docs, bg, cx, co, "doc_id", "text"))
    assert (c["Generate"], c["FileScan"]) == (2, 2), c
    assert c["ReusedExchange"] >= 6, c


def test_dsir_fused_reads_the_text_twice(docs):
    w = dsir.dsir_logweights_fused(
        docs, "doc_id", "text", F.col("lang") == "en", dim=64
    )
    c = _passes(dsir.dsir_select(w, 5))
    assert c["Generate"] <= 2 and c["FileScan"] <= 2, c
    assert c["ReusedExchange"] >= 1, c


def test_bm25_reads_the_text_twice(docs):
    """The stats aggregate and the scoring projection; no doc spine."""
    c = _passes(corpus_stats.bm25_score(docs, "doc_id", "text", ["spark", "merge"]))
    assert c["Generate"] <= 2 and c["FileScan"] <= 2, c


def test_tfidf_explodes_once(docs):
    """tf and df come from one explode: df reads the tf exchange."""
    c = _passes(corpus_stats.tfidf_topk(docs, "doc_id", "text", k=2, min_df=2))
    assert c["Generate"] == 1, c
    assert c["ReusedExchange"] >= 1, c


@pytest.mark.parametrize(
    "name",
    ["kn_score", "lm_bigram", "dsir_weights", "dsir_select", "bm25", "tfidf_topk"],
)
def test_oracle_parity_with_edge_docs(spark, corpus_dir, name):
    sdf = entry.queries()[name](spark, corpus_dir)
    got = frame_hash(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{corpus_dir}/documents.parquet')"
    )
    res = con.execute(entry.oracle_sql()[name])
    want = frame_hash([d[0] for d in res.description], res.fetchall())
    assert got == want
    if name in ("kn_score", "lm_bigram", "dsir_weights", "bm25"):  # per doc
        assert got[1] == len(TEXTS)
