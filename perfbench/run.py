"""Benchmark entry point: run one workload on the engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload poll_upsert --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around the benchmark's calls into each layer and prints the per-layer
metrics instead, plus the tracing overhead. Human-readable report lines go
to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

The run is self-contained: Spark runs at ``local[nproc]``
(``batch_queries``: ``local[nproc // 2]``), every file the run creates
lives under ``.perfbench_work/<run id>/`` in the repository root
(generated data, Spark local dirs, temp files) and is deleted at exit.
Span files and the last result per workload go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("poll_upsert", "envelope_mor", "batch_queries")


def _git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown (not a git checkout)"


def _prepare_env(work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit; must be set
    before the session starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts (spark-submit's launcher too) keeps its
    # temp files here and writes no hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def _print_report(ctx, spec, trace: bool, overhead: dict | None) -> None:
    from common import loadavg

    print(f"# workload {ctx.workload}  seed {ctx.seed}  seconds {ctx.seconds}  trace {int(trace)}")
    print(
        f"# nproc {ctx.nproc}  loadavg before {ctx.load_before}  after {loadavg()}  "
        f"git {_git_head()}  spark {ctx.versions.get('spark')}  "
        f"java {ctx.versions.get('java')}  python {platform.python_version()}"
    )
    for name, unit in spec["end_to_end"]:
        note = ctx.notes.get(name, "")
        print(f"  {name:<22} {ctx.e2e.get(name, 0.0):>14.4f} {unit:<10} {note}")
    gated = {name for name, _ in spec["end_to_end"]}
    for name, value in ctx.e2e.items():
        if name not in gated:
            print(f"  {name:<22} {value:>14.4f} {'':<10} (not gated) {ctx.notes.get(name, '')}")
    for line in ctx.details:
        print(f"# {line}")
    if trace:
        print("# per-layer")
        for name, unit in spec["per_layer"]:
            print(f"  {name:<48} {ctx.layer.get(name, 0.0):>14.4f} {unit}")
        if overhead:
            for name, (traced, untraced) in overhead.items():
                pct = 100.0 * (traced - untraced) / untraced if untraced else 0.0
                print(f"# tracing overhead {name}: traced {traced:.4f} untraced {untraced:.4f} ({pct:+.1f}%)")
        else:
            print("# tracing overhead: no untraced run of this workload recorded yet")
        print(
            f"# tracing cost: {len(ctx.tracer.spans)} spans x "
            f"{ctx.span_cost_us:.2f} us = {len(ctx.tracer.spans) * ctx.span_cost_us / 1000:.2f} ms"
        )
    ratio = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"# attempted {ctx.attempted}  failed {ctx.failed}  failed_ratio {ratio:.6f}")
    verdict = "correct" if not ctx.mismatches else "MISMATCH: " + "; ".join(ctx.mismatches)
    print(f"# correctness: {verdict}")


def _span_cost_us(tracer_cls) -> float:
    t = tracer_cls(True, "calibration")
    n = 2000
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("bench.calibration"):
            pass
    return (time.perf_counter() - t0) / n * 1e6


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "siddhi_io_cdc_spark")) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: the engine package is not next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {
        "end_to_end": [(m["name"], m["unit"]) for m in bench["end_to_end"]],
        "per_layer": [(m["name"], m["unit"]) for m in bench["per_layer"]],
    }

    sys.path.insert(0, ROOT)
    from common import Ctx, loadavg
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    load_before = loadavg()
    span_cost = _span_cost_us(Tracer) if args.trace else 0.0

    import importlib

    workload = importlib.import_module(args.workload)
    ctx = Ctx(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        work=work,
        nproc=nproc,
        tracer=Tracer(bool(args.trace), run_id),
        t_process=T_PROCESS,
        load_before=load_before,
        span_cost_us=span_cost,
        layer={name: 0.0 for name, _ in spec["per_layer"]},
    )
    # a terminated run still stops its streams and Spark and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ok = False
    try:
        workload.run(ctx)
        ok = True
    except Exception:  # noqa: BLE001 - the run's boundary: report and fail
        traceback.print_exc()
    finally:
        t_close = time.perf_counter()
        try:
            ctx.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    print(f"# teardown s: {time.perf_counter() - t_close:.2f}")
    if not ok:
        return 1
    ctx.layer["bench.failed_ratio"] = ctx.failed / ctx.attempted if ctx.attempted else 1.0

    if args.trace:
        ctx.tracer.write(os.path.join(out_dir, f"spans-{run_id}.json"))
        self_s = ctx.tracer.self_times()
        for layer, secs in ctx.stream_self.items():
            self_s[layer] = self_s.get(layer, 0.0) + secs
        for layer, secs in self_s.items():
            key = f"{layer}.self_s"
            if key in ctx.layer:
                ctx.layer[key] = secs
    last = os.path.join(out_dir, f"last-{args.workload}-trace{args.trace}.json")
    overhead = None
    if args.trace:
        untraced = os.path.join(out_dir, f"last-{args.workload}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            overhead = {k: (v, base[k]) for k, v in ctx.e2e.items() if k in base}
    with open(last, "w") as f:
        json.dump(ctx.e2e, f)

    _print_report(ctx, spec, bool(args.trace), overhead)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = ctx.layer if args.trace else ctx.e2e
    result = {
        "correct": not ctx.mismatches,
        "attempted": int(ctx.attempted),
        "failed": int(ctx.failed),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and not ctx.failed else 1


if __name__ == "__main__":
    sys.exit(main())
