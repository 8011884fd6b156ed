"""The plain-Python Kneser–Ney reference agrees with the DuckDB oracle.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import knref  # noqa: E402
from harness import digest  # noqa: E402


def test_knref_matches_duckdb_oracle(tmp_path):
    import duckdb
    import pandas as pd

    from med_doi_feature_extraction_spark.operators.lm import oracle_kn_score_sql

    docs = pd.read_parquet(gen.documents(tmp_path, seed=3) / "docs.parquet").head(300)
    docs.loc[docs.index[:2], "text"] = ["", None]  # empty and NULL docs score NULL
    ours = pd.DataFrame(
        knref.kn_scores(docs), columns=["doc_id", "n_tokens", "logp_per_token", "ppl"]
    )
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        oracle = con.execute(
            oracle_kn_score_sql("documents", "documents", "doc_id", "text")
        ).fetchdf()
    finally:
        con.close()
    assert ours["n_tokens"].isna().sum() == 2
    assert digest(ours, list(ours.columns)) == digest(oracle, list(oracle.columns))
