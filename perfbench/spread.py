"""Run one workload on several seeds and print, per metric, the median,
the quartiles and the spread (q3 - q1) / median over the runs, with the
bound from BENCHMARK.json next to it.

    python3 perfbench/spread.py --workload sc_sparse --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        runs.append(res)
        vals = {k: v["value"] for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {json.dumps(vals)}", flush=True)
    if len(runs) < 2:
        return 1
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs if r["metrics"][name]["value"] is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        note = f" bound={b} (third {b / 3:.3f})" if b is not None else ""
        print(f"{name}: median={med:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
