"""Run every workload and print every metric by name and unit.

    python3 perfbench/report.py                      # seed 1, one run each
    python3 perfbench/report.py --seeds 1-10         # spread over ten seeds
    python3 perfbench/report.py --seeds 1-10 --trace --write perfbench/baseline.json

For each workload of BENCHMARK.json this runs ``run.py`` once per seed in
a child process (untraced), and with ``--trace`` once more traced on the
first seed. It prints, per end-to-end metric, the median over seeds, the
quartile spread as a share of the median, and the metric's bound; then the
error rate, the tracing overhead (median untraced ÷ traced docs/s − 1) and
the per-layer figures of the traced run. ``--write`` stores all of it, with
the machine's core count, the Spark version and a memory-bandwidth probe
taken before and after, as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
SPEC = json.loads((HERE / "spec.json").read_text())


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, trace: bool) -> tuple[dict, dict, float]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
        "--seconds", str(BENCH["run_seconds"]), "--trace", str(int(trace)),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _membw() -> float:
    sys.path.insert(0, str(ROOT))
    from tools.scaling_bench import _membw_probe

    return _membw_probe()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--write", type=Path)
    args = ap.parse_args()

    import pyspark

    seeds = _seeds(args.seeds)
    out = {
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "run_seconds": BENCH["run_seconds"],
        "seeds": seeds,
        "membw_gbps_before": _membw(),
        "workloads": {},
    }
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    for wl in args.workloads.split(","):
        runs = [_run(wl, s, False) for s in seeds]
        rec = {"metrics": {}, "run_wall_s": [w for _, _, w in runs]}
        print(f"\n== {wl}: {len(seeds)} seed(s), run wall median "
              f"{statistics.median(rec['run_wall_s']):.1f} s")
        for name, m in e2e.items():
            vals = [r["metrics"][name]["value"] for r, _, _ in runs]
            med, spread = statistics.median(vals), _spread(vals)
            rec["metrics"][name] = {"median": med, "spread": spread, "values": vals}
            flag = "" if spread <= m["bound"] / 3 else "  <-- spread above a third of the bound"
            print(f"  {name:<14} {med:12.4f} {m['unit']:<6} spread {spread:6.3f} "
                  f"bound {m['bound']}{flag}")
            print("      " + " ".join(f"{v:.4g}" for v in vals))
        attempted = sum(r["attempted"] for r, _, _ in runs)
        failed = sum(r["failed"] for r, _, _ in runs)
        rec["error_rate"] = failed / attempted
        rec["info"] = [i for _, i, _ in runs]
        wall_tput = [i["docs_per_s"] for _, i, _ in runs]
        print(f"  docs_per_s     {statistics.median(wall_tput):12.4f} 1/s    spread "
              f"{_spread(wall_tput):6.3f} (wall time, not gated)")
        raw_cpu = [i["cpu_ms_per_doc"] for _, i, _ in runs]
        host_ms = [i["host_ms"] for _, i, _ in runs]
        print(f"  cpu_ms_per_doc {statistics.median(raw_cpu):12.4f} ms     spread "
              f"{_spread(raw_cpu):6.3f} (unscaled CPU time; host sample mean "
              f"{min(host_ms):.3f}-{max(host_ms):.3f} ms)")
        pct = sorted({i["chunk_tail_percentile"] for _, i, _ in runs})
        print(f"  error_rate     {rec['error_rate']:.4f} ({failed}/{attempted}); "
              f"chunk_tail percentile {pct}; steps per run "
              f"{sorted({i['steps'] for _, i, _ in runs})}")
        if args.trace:
            traced, tinfo, _ = _run(wl, seeds[0], True)
            layers = {k: v["value"] for k, v in traced["metrics"].items()}
            untraced = statistics.median(i["docs_per_s"] for _, i, _ in runs)
            overhead = untraced / layers["trace.docs_per_s"] - 1
            rec["traced"] = {"seed": seeds[0], "metrics": layers, "overhead": overhead,
                             "correct": traced["correct"]}
            print(f"  tracing overhead {overhead:+.3f} (median untraced / traced docs/s - 1)")
            for k, v in layers.items():
                print(f"    {k:<42} {v:14.4f}")
        out["workloads"][wl] = rec
    out["membw_gbps_after"] = _membw()
    print(f"\nmembw GB/s before {out['membw_gbps_before']} after {out['membw_gbps_after']}")
    if args.write:
        out["layer_map"] = SPEC["layer_map"]
        args.write.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
