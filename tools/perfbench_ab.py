#!/usr/bin/env python3
"""Same-window A/B of the benchmark: a base revision against the working tree.

Run from the repository root:

    python3 tools/perfbench_ab.py <base-ref> [--pairs 10] [--first-seed 101]
        [--workloads serve churn] [--seconds 30] [--out ab.json]
        [--base-dir <existing checkout of base-ref>]

It checks <base-ref> out in a `git worktree` (or uses --base-dir), then runs
`perfbench/run.py` untraced on the base ("parent") and on the working tree
("change") seed by seed, alternating which side goes first, for --pairs seeds
per workload. Each side builds into its own CARGO_TARGET_DIR inside its own
checkout, so neither reuses the other's classes.

It prints, per workload and end-to-end metric of BENCHMARK.json, the median
and quartiles of each side, the share of pairs the change won, the relative
change of the median and a verdict against the metric's bound:

    worse    the change's median is worse than the parent's by more than the
             bound (relative to the parent's median);
    better   the change won at least 90% of the pairs and its median beats
             the parent's by more than the parent's interquartile range;
    flat     neither.

Two steadiness sets taken at different times can disagree by more than the
bounds when the host's load changes between them; pairs run back to back do
not share that error, which is why a claimed gain is read from this table.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(side_root, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(side_root, ".bench_build"))
    proc = subprocess.run(
        [sys.executable, os.path.join(side_root, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=side_root, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{side_root}: {workload} seed {seed} failed "
                         f"({proc.returncode}):\n{proc.stderr[-3000:]}")
    res = json.loads(lines[-1])
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def verdicts(pairs, spec):
    out = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name] for p in pairs]
        chg = [p["change"]["metrics"][name] for p in pairs]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        rel = (cmed - pmed) / pmed if pmed else 0.0
        worse_by = rel if lower else -rel
        gain = (pmed - cmed) if lower else (cmed - pmed)
        if worse_by > m["bound"]:
            verdict = "worse"
        elif wins >= 0.9 * len(pairs) and gain > (pq3 - pq1):
            verdict = "better"
        else:
            verdict = "flat"
        out[name] = {"unit": m["unit"], "better": m["better"], "bound": m["bound"],
                     "parent": {"median": pmed, "q1": pq1, "q3": pq3},
                     "change": {"median": cmed, "q1": cq1, "q3": cq3},
                     "wins": wins, "pairs": len(pairs),
                     "median_change": round(rel, 4), "verdict": verdict}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base_ref")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--base-dir", help="an existing checkout of base_ref")
    ap.add_argument("--out", help="also write the table and every run as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    seconds = a.seconds or spec["run_seconds"]

    worktree = None
    base = a.base_dir
    if base is None:
        worktree = tempfile.mkdtemp(prefix="perfbench-ab-")
        subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", worktree,
                        a.base_ref], check=True, stdout=subprocess.DEVNULL)
        base = worktree
    sides = {"parent": os.path.abspath(base), "change": ROOT}
    report = {"base_ref": a.base_ref, "seconds": seconds, "workloads": {}}
    try:
        for name, side in sides.items():  # build both before any timed run
            print(f"building {name} ({side})", file=sys.stderr, flush=True)
            subprocess.run([sys.executable, os.path.join(side, "perfbench", "run.py"),
                            "--selftest"], cwd=side, check=True,
                           stdout=subprocess.DEVNULL,
                           env=dict(os.environ,
                                    CARGO_TARGET_DIR=os.path.join(side, ".bench_build")))
        for w in workloads:
            pairs = []
            for i in range(a.pairs):
                seed = a.first_seed + i
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                pair = {"seed": seed, "first": order[0]}
                for name in order:
                    pair[name] = run(sides[name], w, seed, seconds)
                print(f"{w} seed={seed} first={order[0]} " + " ".join(
                    f"{n}: failed={pair[n]['failed']}/{pair[n]['attempted']}"
                    for n in sides), file=sys.stderr, flush=True)
                pairs.append(pair)
                report["workloads"][w] = {"verdicts": verdicts(pairs, spec),
                                          "runs": pairs}
                if a.out:  # after every pair, so a cut run keeps its pairs
                    with open(a.out, "w") as f:
                        json.dump(report, f, indent=1)
    finally:
        if worktree:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force",
                            worktree], stdout=subprocess.DEVNULL)
            shutil.rmtree(worktree, ignore_errors=True)

    def side(v):
        return f"{v['median']:.4g} [{v['q1']:.4g}, {v['q3']:.4g}]"

    print(f"{'workload':8} {'metric':20} {'parent median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'wins':>6} {'Δmedian':>8} "
          f"{'bound':>6}  verdict")
    for w, r in report["workloads"].items():
        for name, v in r["verdicts"].items():
            print(f"{w:8} {name:20} {side(v['parent']):>30} "
                  f"{side(v['change']):>30} "
                  f"{v['wins']:>3}/{v['pairs']:<2} {v['median_change']:>+8.1%} "
                  f"{v['bound']:>6}  {v['verdict']}")
        fails = {n: sum(p[n]["failed"] for p in r["runs"]) for n in sides}
        print(f"{w:8} failed operations: parent {fails['parent']}, "
              f"change {fails['change']}")


if __name__ == "__main__":
    main()
