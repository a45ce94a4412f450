#!/usr/bin/env python3
"""Repeated runs of the benchmark, with the spread of every metric.

Run from the repository root:

    python3 perfbench/steady.py --workloads serve churn --seeds 1-10 \
        --out perfbench/results/steadiness.json
    python3 perfbench/steady.py --workloads serve churn --traced-seed 7 \
        --out perfbench/results/trace_repeat.json

The first form runs each workload untraced once per seed and records, per
end-to-end metric, the median, the quartiles (statistics.quantiles, n=4)
and the spread (q3 - q1) / median next to the metric's bound. The second
runs each workload traced twice on one seed and records which per-layer
counts repeated exactly.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed ({proc.returncode}):\n"
                         f"{proc.stderr[-3000:]}")
    res = json.loads(lines[-1])
    extra = json.loads(lines[-2]) if len(lines) > 1 else {}
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s "
          f"correct={res['correct']} failed={res['failed']}/{res['attempted']}",
          flush=True)
    return {"seed": seed, "trace": trace, "wall_s": round(wall, 2),
            "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "run": extra,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def spread_table(runs, spec):
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        out[m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                          "spread": round(spread, 4), "bound": m["bound"],
                          "below_third_of_bound": spread < m["bound"] / 3}
    return out


def parse_seeds(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    record = {"run_seconds": seconds, "nproc": len(os.sched_getaffinity(0)),
              "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    for w in a.workloads:
        if a.traced_seed is not None:
            runs = [one_run(w, a.traced_seed, seconds, 1) for _ in range(2)]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            counts = [n for n, u in units.items() if u in ("count", "bytes")]
            same = [n for n in counts if runs[0]["metrics"][n] == runs[1]["metrics"][n]]
            record["workloads"][w] = {
                "runs": runs, "counts_repeated": same,
                "counts_differing": {n: [r["metrics"][n] for r in runs]
                                     for n in counts if n not in same}}
        else:
            runs = [one_run(w, s, seconds, 0) for s in parse_seeds(a.seeds)]
            record["workloads"][w] = {"runs": runs, "spread": spread_table(runs, spec)}
            for name, row in record["workloads"][w]["spread"].items():
                flag = "" if row["below_third_of_bound"] else "  <-- above bound/3"
                print(f"  {w:6s} {name:22s} median={row['median']:.4g} "
                      f"spread={row['spread']:.3f} bound={row['bound']}{flag}")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
