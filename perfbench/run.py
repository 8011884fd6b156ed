"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload pages_resumable --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository. Generates the seeded
inputs (cached per seed under ``.perfbench_work/``), sets the Spark
session up three times and reports the median as ``setup_s``, then runs
the workload's operation in a closed loop (one client, one Spark job at a
time, ``local[4]``) until ``--seconds`` of operation time have passed,
and reports its CPU time per input row as ``ref_cpu_ms_per_doc``. Both
are scaled to a reference host speed measured alongside
(``harness.HostSpeed``); the raw figures are on the line before the result.
Every operation's output is then checked; an operation that raises or
fails a check counts in ``failed``. Exits non-zero without a result when
the engine package is not importable from the checkout.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from the Spark event log, enabled
only then) with ``--trace 1``. The line before it reports figures that
are not metrics (tail percentile, sample counts, error rate).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import harness  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text()) if (HERE.parent / "BENCHMARK.json").exists() else None


# thread CPU ms of one HostSpeed sample at the reference speed (about its
# mean while a workload runs on a 4-vCPU Xeon VM); setup_s and
# ref_cpu_ms_per_doc are scaled to that speed
HOST_REF_MS = 1.0


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCH[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import med_doi_feature_extraction_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    if BENCH is None:
        print("perfbench: BENCHMARK.json not found at the checkout root", file=sys.stderr)
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = harness.WORK / f"run-{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = harness.configure(run_dir, trace=bool(args.trace))
    try:
        result, info = _run(args, run_dir, conf, workloads)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0


def _run(args, run_dir: Path, conf: dict, workloads):  # noqa: ANN001
    from eventlog import EventLog, Tracer, find_log

    from med_doi_feature_extraction_spark.session import get_spark

    tracer = Tracer()
    t_start = harness.now()
    wl = workloads.WORKLOADS[args.workload](run_dir, harness.WORK / "cache", args.seed, tracer)
    wl.prepare()

    spark = None
    setup_s, get_s, warm_s, setup_ms = [], [], [], []
    try:
        for _ in range(workloads.SPEC["setups"]):
            if spark is not None:
                harness.stop_session(spark)
            with harness.HostSpeed() as host:
                t0 = harness.now()
                spark = get_spark(
                    "perfbench", master=f"local[{harness.CORES}]",
                    shuffle_partitions=harness.SHUFFLE_PARTITIONS, extra_conf=conf,
                )
                t1 = harness.now()
                harness.warm_workers(spark)
                t2 = harness.now()
            get_s.append(t1 - t0)
            setup_s.append(t2 - t0)
            warm_s.append(t2 - t1)
            setup_ms.append(host.mean_ms)
        tracer.sc = spark.sparkContext
        wl.bind(spark)
        app_id = spark.sparkContext.applicationId

        # operations back to back; their outputs are checked afterwards
        ops, op_s, steps, raised = 0, [], [], {}
        with harness.RssSampler() as rss, harness.HostSpeed() as host:
            cpu0, ticks0 = harness.cpu_seconds(), harness.cpu_ticks()
            while sum(op_s) < args.seconds:
                t = harness.now()
                try:
                    with tracer.span(f"op:run:{ops}"):
                        steps += wl.op(ops)
                except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                    raised[ops] = [f"raised {type(e).__name__}: {e}"]
                op_s.append(harness.now() - t)
                ops += 1
            cpu_s = harness.cpu_seconds() - cpu0
            steal, busy = (b - a for a, b in zip(ticks0, harness.cpu_ticks()))
        cpu_s -= host.cpu_s
        errors = {i: raised.get(i) or wl.check_op(i) for i in range(ops)}
        failures = [f"op {i}: {e}" for i, errs in errors.items() for e in errs]
        failed = sum(1 for errs in errors.values() if errs)
        if args.trace:
            wl.probes()
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()

    wall = sum(op_s)
    docs_per_s = wl.rows * ops / wall
    tail, pct = harness.tail(steps) if steps else (0.0, 0.0)
    info = {
        "workload": args.workload, "seed": args.seed, "docs_per_s": docs_per_s,
        "ops": ops, "op_s": op_s,
        "steps_s": steps,
        "steps": len(steps), "chunk_p50_s": harness.median(steps),
        "chunk_tail_s": tail, "chunk_tail_percentile": pct,
        "rows_per_op": wl.rows,
        "cpu_ms_per_doc": 1e3 * cpu_s / (wl.rows * ops),
        "host_ms": host.mean_ms, "steal_frac": steal / max(1, busy),
        "setup_host_ms": setup_ms,
        "setup_runs": setup_s, "peak_rss_mb": rss.peak_mb, "peak_rss_detail": rss.peak_detail,
        "wall_s": harness.now() - t_start,
        "error_rate": failed / ops,
        "failures": failures[:20], **wl.info(),
    }
    if not args.trace:
        metrics = {
            "setup_s": harness.median(
                [t * HOST_REF_MS / ms for t, ms in zip(setup_s, setup_ms)]
            ),
            "docs_per_s": docs_per_s,
            "ref_cpu_ms_per_doc": 1e3 * cpu_s * (HOST_REF_MS / host.mean_ms) / (wl.rows * ops),
        }
        units = _units("end_to_end")
    else:
        log = EventLog(find_log(run_dir / "eventlog", app_id))
        metrics = _layers(log, wl, ops, wall, get_s, warm_s, docs_per_s)
        metrics["memory.peak_rss_mb"] = rss.peak_mb
        units = _units("per_layer")
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    result = {
        "correct": not failures,
        "attempted": ops,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return result, info


def _layers(log, wl, ops: int, wall: float, get_s, warm_s, docs_per_s: float) -> dict:  # noqa: ANN001
    tot = log.task_totals("op:")
    py = "ArrowEvalPython"
    m = {
        "trace.docs_per_s": docs_per_s,
        "session.get_spark_s": harness.median(get_s),
        "session.worker_warm_s": harness.median(warm_s),
        "kernels.python_run_s": log.sql_metric("op:", py, "time to run Python workers") / ops,
        "kernels.python_start_s": log.sql_metric("op:", py, "time to start Python workers") / ops,
        "kernels.python_init_s": log.sql_metric("op:", py, "time to initialize Python workers") / ops,
        "kernels.arrow_bytes_sent": log.sql_metric("op:", py, "data sent to Python workers") / ops,
        "kernels.arrow_bytes_returned": log.sql_metric("op:", py, "data returned from Python workers") / ops,
        "spark.executor_run_s": tot["run_s"] / ops,
        "spark.executor_cpu_s": tot["cpu_s"] / ops,
        "spark.gc_s": tot["gc_s"] / ops,
        "spark.busy_frac": tot["run_s"] / (wall * harness.CORES),
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / ops,
        "spark.shuffle_fetch_wait_s": tot["fetch_wait_s"] / ops,
        "spark.spill_bytes": tot["spill_bytes"] / ops,
        "spark.task_failures": tot["failed_tasks"],
    }
    m.update(wl.layers(log, ops))
    # a layer the workload does not run reports 0
    for name in _units("per_layer"):
        m.setdefault(name, 0.0)
    return m


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
