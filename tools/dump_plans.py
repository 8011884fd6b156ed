"""Dump .explain("formatted") for named queries to a directory.

Usage: python tools/dump_plans.py [--sf SF_DIR] [--executed] <repo_root>
       <out_dir> q1 q2 ...

<repo_root> is prepended to sys.path so the dump can run against a
second checkout of a historical tree (``git archive``) for before/after
plan evidence. ``--sf`` is the fixture directory (default sf0.1, as
``bench.py``).

Without ``--executed`` the dump is plan-only — no noop execution
(builders that run bounded plan-time jobs still run them).

With ``--executed`` each query runs into the noop sink first, and the
file holds its FINAL adaptive plan (``isFinalPlan=true``, as the SQL
status store keeps it) followed by one counts line::

    counts: FileScan=3 Exchange=7 ReusedExchange=2 BroadcastExchange=2 Generate=2 WholeStageCodegen=9

taken over the nodes that ran: the final-plan section of every adaptive
plan, subqueries included, never the initial plan; a reused exchange
counts once and its subtree not at all. The counts do not depend on
the order Catalyst prints a plan in, so two dumps of the same commit
whose formatted text differs only by an operand order (``anchor_stats``
and ``cramers_assoc`` flip the column order of their distinct-aggregate
``Expand``) give the same counts line; diff the counts lines first.
The counts line is printed on stdout too.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

COUNTED = (
    "FileScan",
    "Exchange",
    "ReusedExchange",
    "BroadcastExchange",
    "Generate",
    "WholeStageCodegen",
)

# a tree line: optional "+- " indent, optional "* " (inside whole-stage
# codegen), then "Name (id)"; detail lines ("(id) Name", "Output [n]: ...")
# never match
_TREE = re.compile(r"^(?:[ :|]*\+- )?(?:\* )?(?P<name>[A-Za-z][\w ]*?)\s+\((?P<id>\d+)\)")
_DETAIL = re.compile(r"^\((?P<id>\d+)\) .*?(?:\[codegen id : (?P<cg>\d+)\])?$")


def plan_counts(formatted: str) -> dict[str, int]:
    """Node counts over the executed part of a formatted plan: only the
    ``== Final Plan ==`` section of an adaptive plan is read (its
    ``== Initial Plan ==`` never ran), each root — the main plan and
    every subquery — starts a new tree, and ``WholeStageCodegen`` is
    the number of distinct codegen stages among the counted nodes."""
    counts: Counter[str] = Counter()
    live, section = True, 0
    stage_of: dict[tuple[int, str], str] = {}
    counted: list[tuple[int, str]] = []
    for line in formatted.splitlines():
        if line.startswith("Subquery:") or line.startswith("====="):
            section, live = section + 1, True
            continue
        d = _DETAIL.match(line)
        if d:
            if d.group("cg"):
                stage_of[(section, d.group("id"))] = d.group("cg")
            continue
        if "== Initial Plan ==" in line:
            live = False
            continue
        if "== Final Plan ==" in line:
            live = True
            continue
        m = _TREE.match(line)
        if not m:
            continue
        if not line[0].isspace():  # a root: a new tree starts
            live = True
        if not live:
            continue
        name = m.group("name").strip()
        counted.append((section, m.group("id")))
        if name.startswith("Scan "):
            counts["FileScan"] += 1
        elif name in COUNTED:
            counts[name] += 1
    counts["WholeStageCodegen"] = len(
        {(k[0], stage_of[k]) for k in counted if k in stage_of}
    )
    return {k: counts[k] for k in COUNTED}


def counts_line(counts: dict[str, int]) -> str:
    return "counts: " + " ".join(f"{k}={counts[k]}" for k in COUNTED)


def executed_plan(spark, df) -> str:  # noqa: ANN001
    """Run ``df`` into the noop sink and return the final formatted
    plan of that write, as the SQL status store recorded it."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList().size()
    df.write.mode("overwrite").format("noop").save()
    # the adaptive-plan updates reach the store through the async bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList()
    new = [execs.apply(i) for i in range(before, execs.size())]
    # the write is the execution whose plan hosts the noop sink
    write = [e for e in new if "OverwriteByExpression" in e.physicalPlanDescription()]
    return (write or new)[-1].physicalPlanDescription()


def main() -> None:
    args = sys.argv[1:]
    sf_dir, executed = "/root/testdata/sf0.1", False
    while args[:1] in (["--sf"], ["--executed"]):
        if args[0] == "--sf":
            sf_dir, args = args[1], args[2:]
        else:
            executed, args = True, args[1:]
    repo, out_dir, names = args[0], args[1], args[2:]
    sys.path.insert(0, str(Path(repo).resolve()))
    import __spark_entry__ as entrymod
    from med_doi_feature_extraction_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark("dump_plans")
    Path(out_dir).mkdir(parents=True, exist_ok=True)
    for name in names:
        line = ""
        try:
            df = qs[name](spark, sf_dir)
            if executed:
                plan = executed_plan(spark, df)
                line = counts_line(plan_counts(plan))
                plan = f"{plan}\n{line}\n"
            else:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building {name}: {exc}"
        (Path(out_dir) / f"{name}.txt").write_text(plan)
        status = "ok" if not plan.startswith("ERROR") else "ERR"
        print(name, status, line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
