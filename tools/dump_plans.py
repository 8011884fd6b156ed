"""Dump .explain("formatted") for named queries to a directory.

Usage: python tools/dump_plans.py [--sf SF_DIR] <repo_root> <out_dir> q1 q2 ...

<repo_root> is prepended to sys.path so the dump can run against a
second checkout of a historical tree (``git archive``) for before/after
plan evidence. ``--sf`` is the fixture directory (default sf0.1, as
``bench.py``). Plan-only — no noop execution (builders that run
bounded plan-time jobs still run them).
"""

from __future__ import annotations

import sys
from pathlib import Path


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args[:1] == ["--sf"]:
        sf_dir, args = args[1], args[2:]
    repo, out_dir, names = args[0], args[1], args[2:]
    sys.path.insert(0, str(Path(repo).resolve()))
    import __spark_entry__ as entrymod
    from med_doi_feature_extraction_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark("dump_plans")
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building {name}: {exc}"
        (Path(out_dir) / f"{name}.txt").write_text(plan)
        print(name, "ok" if not plan.startswith("ERROR") else "ERR", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
