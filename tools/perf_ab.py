"""Paired A/B of the benchmark: a base revision against the working tree.

Usage (from the repository root):

    python3 tools/perf_ab.py --base <rev> --workload poll_upsert [--pairs 10] \
        [--seed-base 1]

The base revision is exported with ``git archive`` into
``.perfbench_work/perf_ab-base`` (removed at the end), so the working tree
and its ``.git`` stay untouched and both sides do their I/O on the same
filesystem. Each pair runs ``perfbench/run.py --trace 0`` once on each side
with the same seed and ``BENCHMARK.json``'s ``run_seconds``; which side
runs first alternates from pair to pair, so drift on the host lands on both
alike.

Per end-to-end metric it prints each side's median and quartiles
(``statistics.quantiles(values, n=4)``), the change's wins over the pairs
(ties count for neither side) and a verdict:

- ``GAIN``: the change wins at least 9 of every 10 pairs and the medians
  differ, in the better direction, by more than the base's q1-q3 spread;
- ``REGRESSION``: the change's median is worse than the base's by more than
  the metric's ``bound`` (a fraction of the base median);
- ``within bound``: not worse by more than the bound, and both sides'
  spreads ``(q3 - q1) / median`` fit in the bound (or every change run beats
  every base run);
- ``unresolved``: otherwise; the runs spread too widely to tell.

It also prints, per side, how many runs were correct and the failed /
attempted operation counts. The raw runs and verdicts go to
``.perfbench_out/perf_ab-<time>.json``. Only ``BENCHMARK.json`` and
``perfbench/`` are read; neither is changed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_ROOT = os.path.join(ROOT, ".perfbench_work", "perf_ab-base")
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from steady import summarize  # noqa: E402


def export_rev(rev: str, dest: str) -> None:
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], capture_output=True, check=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_side(root: str, workload: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "error": proc.stderr[-2000:]}
    result["wall_s"] = time.perf_counter() - t0
    result["exit"] = proc.returncode
    return result


def verdict(metric: dict, base: list[float], change: list[float]) -> dict:
    lower = metric["better"] == "lower"
    b, c = summarize(base), summarize(change)
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    wins = sum(better(cv, bv) for bv, cv in zip(base, change))
    gap = b["median"] - c["median"] if lower else c["median"] - b["median"]
    worse = -gap / b["median"] if b["median"] else 0.0
    bound = metric["bound"]
    if wins * 10 >= 9 * len(base) and gap > b["q3"] - b["q1"]:
        name = "GAIN"
    elif worse > bound:
        name = "REGRESSION"
    elif max(b["spread"], c["spread"]) <= bound or all(
        better(cv, bv) for cv in change for bv in base
    ):
        name = "within bound"
    else:
        name = "unresolved"
    return {"base": b, "change": c, "wins": wins, "pairs": len(base),
            "worse_frac": worse, "bound": bound, "verdict": name}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    runs: dict[str, list[dict]] = {"base": [], "change": []}
    try:
        export_rev(args.base, BASE_ROOT)
        roots = {"base": BASE_ROOT, "change": ROOT}
        for i in range(args.pairs):
            seed = args.seed_base + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_side(roots[side], args.workload, seed, seconds)
                runs[side].append(r)
                status = "correct" if r.get("correct") and r["exit"] == 0 else "FAILED"
                print(f"pair {i + 1} seed {seed} {side:<6}: {status} wall {r['wall_s']:.1f} s",
                      flush=True)
    finally:
        shutil.rmtree(BASE_ROOT, ignore_errors=True)

    ok_pairs = [
        i for i in range(args.pairs)
        if "metrics" in runs["base"][i] and "metrics" in runs["change"][i]
    ]
    report = {"base": args.base, "workload": args.workload, "runs": runs, "metrics": {}}
    print(f"# {args.workload}: base {args.base} vs working tree, {len(ok_pairs)} pairs "
          f"with results of {args.pairs}, seeds {args.seed_base}..{args.seed_base + args.pairs - 1}")
    for side in ("base", "change"):
        rs = runs[side]
        print(f"# {side:<6} correct {sum(bool(r.get('correct')) for r in rs)}/{len(rs)}  "
              f"failed/attempted {sum(r.get('failed', 0) for r in rs)}/"
              f"{sum(r.get('attempted', 0) for r in rs)}")
    if len(ok_pairs) < 2:
        print("too few pairs with results")
        return 1
    for m in bench["end_to_end"]:
        name = m["name"]
        base = [runs["base"][i]["metrics"][name]["value"] for i in ok_pairs]
        change = [runs["change"][i]["metrics"][name]["value"] for i in ok_pairs]
        v = verdict(m, base, change)
        report["metrics"][name] = v
        b, c = v["base"], v["change"]
        print(
            f"{name:<18} base {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}]  "
            f"change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}] {m['unit']}  "
            f"wins {v['wins']}/{v['pairs']}  worse {v['worse_frac']:+.3f} "
            f"(bound {v['bound']})  {v['verdict']}"
        )
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"perf_ab-{args.workload}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"# written {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
