"""Run the benchmark over several seeds and print every end-to-end metric.

    python3 perfbench/report.py --seeds 1,2,3 [--workloads bulk_build] [--traced]

For each workload: each metric's median over the seeds, its unit, its
spread (distance between the first and third quartile as a share of the
median) next to the bound from ``BENCHMARK.json``, the oracle verdict, the
failed-operation ratio and the wall time per run.  ``--traced`` adds one
traced run per workload and
prints the tracing overhead: traced value against the untraced median.
Per-run results are appended to ``.perfbench_out/report.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "exit": proc.returncode, "wall_s": wall}
    return {**json.loads(lines[-1]), "wall_s": wall}


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1,2,3,4,5")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seeds = [int(s) for s in args.seeds.split(",")]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    all_ok = True
    for w in workloads:
        runs = []
        for seed in seeds:
            res = run_once(w, seed, bench["run_seconds"], 0)
            runs.append(res)
            with open(os.path.join(out_dir, "report.jsonl"), "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "trace": 0, **res}) + "\n")
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        ok = all(r["correct"] for r in runs)
        all_ok &= ok
        print(f"\n{w}: oracle {'agrees' if ok else 'DISAGREES'} on {len(runs)} runs; "
              f"failed_op_ratio {failed / max(attempted, 1):.4f} ({failed}/{attempted}); "
              f"wall per run {statistics.mean(r['wall_s'] for r in runs):.1f} s mean, "
              f"{max(r['wall_s'] for r in runs):.1f} s max")
        medians = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if len(vals) < 2:
                print(f"  {m['name']:<28} no value")
                continue
            medians[m["name"]] = statistics.median(vals)
            s = spread(vals)
            flag = "" if s < m["bound"] / 3 else "  <- spread above a third of the bound"
            print(f"  {m['name']:<28} {medians[m['name']]:>12.4f} {m['unit']:<6} "
                  f"spread {s:6.3f} (bound {m['bound']}){flag}")
        if args.traced:
            res = run_once(w, seeds[0], bench["run_seconds"], 1)
            with open(os.path.join(out_dir, "report.jsonl"), "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seeds[0], "trace": 1, **res}) + "\n")
            print(f"  tracing overhead (traced run, seed {seeds[0]}, against the untraced median):")
            for name, med in medians.items():
                traced = res["metrics"].get(f"traced.{name}", {}).get("value")
                if traced is not None and med:
                    print(f"    {name:<26} {traced:>12.4f}  {100 * (traced - med) / med:+.1f}%")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
