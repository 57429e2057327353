"""``batch_queries`` — closed loop, one client: a fixed list of the engine's
batch query rows (``__spark_entry__.queries()``) over seeded tables.

Each row is built and run to the noop sink inside ``util.cache_scope``, as
``bench.py`` times it: the clock covers the ``queries[name]()`` call
(including eager trainer and checkpoint actions) and the noop write. Whole
passes repeat until the run's time is up, at least two; each pass's row
order is shuffled by the seed. Set-up runs every row once with
``collect()`` and compares it with its ``oracle_sql()`` through DuckDB (the
comparison of ``tools/check_contract.py``), then runs one untimed pass
through the noop sink as the warm-up.

Spark runs at ``local[nproc // 2]``. On tables this small the rows are
bound by the driver's planning and job scheduling: at ``local[nproc]`` they
run no faster, and in interleaved runs their times followed the host's
load more closely (README, "Run length and the host's noise").

Freshness is taken per row execution: the time from the ``queries[name]()``
call (inputs in place) to the row's complete result, so p50 and tail are
order statistics over rows × passes. ``events_per_s`` is the input records
the rows read divided by ``suite_s``, the sum of each row's median wall
time; it moves with the total, while freshness moves with the typical and
the slow rows.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import gen
from common import group_jobs, group_tasks, jvm_gc_ms, median, peak_rss_mb, tail

SCALE = 0.005
SETUP_REPS = 3
MIN_PASSES = 2

#: row -> (layer whose public functions the row's builder calls, tables read)
ROWS = {
    "cdc_flatten_multi_op": ("operators.flatten", ("events",)),
    "cdc_apply_changelog": ("operators.mutate", ("customer",)),
    "cdc_history_scd2": ("operators.history", ("events",)),
    "rel_shipping_priority": ("plans", ("customer", "orders", "lineitem")),
    "win_session": ("streaming.windows", ("events",)),
    "llm_cdc_pipeline": ("functions", ("documents",)),
    "llm_pq_encode": ("functions", ("embeddings",)),
    "llm_kneser_ney": ("functions", ("documents",)),
    "llm_unigram_lm": ("functions", ("documents",)),
}


def _check_rows(ctx, data: str, queries, oracles) -> None:
    """Run every row once with ``collect()`` and compare it with its oracle."""
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    import check_contract as cc

    con = duckdb.connect()
    try:
        for t in cc.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name in ROWS:
            ctx.attempted += 1
            with ctx.tracer.span("bench.check"):
                sdf = queries[name](ctx.spark, data)
                srows = [tuple(r) for r in sdf.collect()]
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                schema = con.execute(oracles[name]).fetch_arrow_table().schema
            problems = cc._type_mismatches(sdf, schema)
            if sorted(sdf.columns) != sorted(ocols):
                problems.append(f"columns {sorted(sdf.columns)} != {sorted(ocols)}")
            elif cc._norm_rows(srows, sdf.columns) != cc._norm_rows(orows, ocols):
                problems.append(f"values differ ({len(srows)} rows vs oracle {len(orows)})")
            if problems:
                ctx.mismatch(f"{name}: " + "; ".join(problems))
    finally:
        con.close()


def run(ctx) -> None:
    import __spark_entry__ as entry
    from siddhi_io_cdc_spark.util import cache_scope

    tracer = ctx.tracer
    session_s = ctx.start_session(cpus=max(1, ctx.nproc // 2))
    spark, sc = ctx.spark, ctx.spark.sparkContext
    data = ctx.path("data")

    # -- setup: tables (median of SETUP_REPS builds), then the checked warm-up pass
    fixture_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("bench.fixtures"):
            counts = gen.write_tables(data, ctx.seed, SCALE)
        fixture_s.append(time.perf_counter() - t0)
    queries, oracles = entry.queries(), entry.oracle_sql()

    def execute(name: str) -> tuple[float, float]:
        """Build one row and write it to the noop sink; ``(build_s, exec_s)``."""
        t0 = time.perf_counter()
        with tracer.span("util.cache_scope"):
            with cache_scope():
                with tracer.span(f"{ROWS[name][0]}.{name}"):
                    df = queries[name](spark, data)
                t1 = time.perf_counter()
                with tracer.span("spark.noop_write"):
                    df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    t0 = time.perf_counter()
    _check_rows(ctx, data, queries, oracles)
    check_s = time.perf_counter() - t0
    # the rows' second executions run 10-15 % slower than later ones: one
    # untimed pass through the noop sink keeps that out of the window
    t0 = time.perf_counter()
    sc.setJobGroup("perfbench.warm", "warm")
    for name in ROWS:
        execute(name)
    warm_s = time.perf_counter() - t0
    ctx.e2e["setup_s"] = session_s + median(fixture_s) + check_s + warm_s
    ctx.notes["setup_s"] = (
        f"session {session_s:.2f} + tables median {median(fixture_s):.2f} (n={SETUP_REPS}) "
        f"+ checked pass {check_s:.2f} + warm-up pass {warm_s:.2f}"
    )

    # -- timed phase: whole shuffled passes until the time is up, so every row
    # has as many samples and the order statistics keep their place
    rng = np.random.default_rng(ctx.seed)
    names = list(ROWS)
    walls: dict[str, list[float]] = {n: [] for n in names}
    builds: dict[str, list[float]] = {n: [] for n in names}
    execs: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, list[int]] = {n: [] for n in names}
    tasks: dict[str, list[int]] = {n: [] for n in names}
    gc0 = jvm_gc_ms(spark)
    t_start = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        for i in rng.permutation(len(names)):
            name = names[i]
            group = f"perfbench.{name}.{passes}"
            sc.setJobGroup(group, name)
            ctx.attempted += 1
            build_s, exec_s = execute(name)
            walls[name].append(build_s + exec_s)
            builds[name].append(build_s)
            execs[name].append(exec_s)
            ids = group_jobs(spark, group)
            jobs[name].append(len(ids))
            if tracer.enabled:
                tasks[name].append(group_tasks(spark, ids))
        passes += 1
    sc.setJobGroup("perfbench.idle", "idle")
    gc_ms = jvm_gc_ms(spark) - gc0

    # -- end-to-end metrics
    suite_s = sum(median(walls[n]) for n in names)
    records = sum(counts[t] for n in names for t in ROWS[n][1])
    fresh_ms = [w * 1000.0 for n in names for w in walls[n]]
    f_tail, f_pct, f_n = tail(fresh_ms)
    ctx.e2e.update(
        {
            "events_per_s": records / suite_s,
            "freshness_p50_ms": median(fresh_ms),
            "freshness_tail_ms": f_tail,
        }
    )
    ctx.layer["bench.peak_rss_mb"] = peak_rss_mb(spark)
    ctx.notes.update(
        {
            "events_per_s": f"{records} input records over {len(names)} rows, suite {suite_s:.3f} s "
            f"(sum of row medians, {passes} passes)",
            "freshness_p50_ms": f"n={f_n} row executions ({passes} passes of {len(names)} rows)",
            "freshness_tail_ms": f"p{f_pct:.1f} n={f_n}",
        }
    )

    ctx.details.append(
        "row wall ms: " + " ".join(f"{n} " + "/".join(f"{w * 1000:.0f}" for w in walls[n]) for n in names)
    )

    # -- per-layer metrics
    ctx.layer["query.suite_s"] = suite_s
    ctx.layer["spark.gc_ms"] = gc_ms
    n_exec = sum(len(j) for j in jobs.values())
    ctx.layer["spark.jobs_per_batch"] = sum(sum(j) for j in jobs.values()) / max(1, n_exec)
    ctx.layer["spark.tasks_per_batch"] = sum(sum(t) for t in tasks.values()) / max(1, n_exec)
    for n in names:
        ctx.layer[f"query.{n}.build_s"] = median(builds[n])
        ctx.layer[f"query.{n}.exec_s"] = median(execs[n])
        ctx.layer[f"query.{n}.jobs"] = median(jobs[n])
