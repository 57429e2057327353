"""Steadiness check: run each workload repeatedly on one commit and compare
two independent sets of runs against the benchmark's bounds.

Usage (from the repository root):

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--seed-base 1000]

Each run gets its own seed. Per set, workload and end-to-end metric it prints
the median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread ``(q3 - q1) / median``, which must stay within the metric's bound.
With two sets it also checks that the two sets' medians differ by no more
than the bound, in either direction: which set ran first is chance, so a
check of one direction alone would pass or fail by the order. Runs of
the workloads interleave, so drift on the host lands on all of them alike.
Results go to ``.perfbench_out/steady-<time>.json``; the exit code is 1 if
any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "error": proc.stderr[-2000:]}
    result["wall_s"] = wall
    result["exit"] = proc.returncode
    return result


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed-base", type=int, default=1000)
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    metrics = bench["end_to_end"]

    sets: list[dict[str, list[dict]]] = []
    for s in range(args.sets):
        runs: dict[str, list[dict]] = {w: [] for w in workloads}
        for i in range(args.runs):
            for w in workloads:
                seed = args.seed_base + 1000 * s + i
                r = run_once(w, seed, bench["run_seconds"])
                runs[w].append(r)
                status = "ok" if r.get("correct") and r["exit"] == 0 else "FAILED"
                print(f"set {s + 1} {w} seed {seed}: {status} wall {r['wall_s']:.1f} s", flush=True)
        sets.append(runs)

    ok = True
    report = {"sets": sets, "summary": []}
    for w in workloads:
        for m in metrics:
            name, bound = m["name"], m["bound"]
            summ = []
            for s, runs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in runs[w] if "metrics" in r]
                if len(vals) < 2:
                    ok = False
                    print(f"{w:<14} {name:<18} set {s + 1}: too few results")
                    continue
                st = summarize(vals)
                summ.append(st)
                good = st["spread"] <= bound
                ok &= good
                print(
                    f"{w:<14} {name:<18} set {s + 1}: median {st['median']:.4f} "
                    f"q1 {st['q1']:.4f} q3 {st['q3']:.4f} spread {st['spread']:.3f} "
                    f"(bound {bound}, third {bound / 3:.3f}) {'ok' if good else 'TOO WIDE'}"
                )
            if len(summ) == 2:
                a, b = summ[0]["median"], summ[1]["median"]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                better = (a - b) / b if m["better"] == "lower" else (b - a) / b
                good = worse <= bound and better <= bound
                ok &= good
                print(
                    f"{w:<14} {name:<18} set 2 vs 1: {worse:+.3f} worse, set 1 vs 2: {better:+.3f} worse "
                    f"(bound {bound}) {'ok' if good else 'APART'}"
                )
            report["summary"].append({"workload": w, "metric": name, "sets": summ})
        walls = [r["wall_s"] for runs in sets for r in runs[w]]
        print(f"{w:<14} run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"steady-{int(time.time())}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("steady" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
