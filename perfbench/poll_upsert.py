"""``poll_upsert`` — open loop: polling-mode capture into the bucketed merge store.

A generator thread lands parquet waves of seeded upserts into a landing zone
on a fixed schedule that does not slow when the engine slows (each file is
written under a dot-name, then renamed). Most events update existing keys,
the rest insert new ones; there are no deletes, as in the paper's polling
mode. A ``cdc-poll`` stream with the default trigger feeds ``foreachBatch``
→ ``operators.mutate.merge_into_bucketed_parquet`` with its default bucket
count. After the scheduled waves a fixed backlog lands at once and is
drained; the whole store is then compared with the generator's
last-write-wins table.

Sizes: the store starts with the 100 000 keys of the ``events`` table at
sf0.1; the bootstrap batch that lands them creates the store, so the first
timed batch is the first to take the merge path. Waves carry 2 000 events,
the wave size the engine was sized with (a wave then took 4.7–6.0 s to
commit at 64 buckets). "Mostly updates plus some inserts" is taken as 80 %
updates. The wave rate, one every 0.5 s, has no outside source: it lands 20
waves in a 10 s run, and since it is above what single-wave batches
sustain, batches coalesce waves.

Freshness of a wave runs from its scheduled landing to the end of the
``foreachBatch`` whose merge makes its last event visible; the batch's end
offset comes from the stream's offset log, written before the batch runs.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import (
    data_progress,
    dir_bytes,
    duration_p50,
    group_jobs,
    group_tasks,
    jvm_gc_ms,
    median,
    parquet_files,
    peak_rss_mb,
    progress_list,
    slope,
    stream_self_s,
    tail,
)

N_KEYS = 100_000
WAVE_EVENTS = 2000
WAVE_INTERVAL_S = 0.5
INSERT_SHARE = 0.2
BACKLOG_EVENTS = 20_000
SETUP_REPS = 3


class Upserts:
    """Seeded upsert waves plus the last-write-wins table they imply."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_key = 0
        self.seq = 0
        self.truth: dict[int, tuple] = {}

    def wave(self, n_existing: int, n_new: int) -> pa.Table:
        keys = np.concatenate(
            [
                self.rng.integers(0, max(1, self.next_key), n_existing),
                np.arange(self.next_key, self.next_key + n_new),
            ]
        )
        self.rng.shuffle(keys)
        self.next_key += n_new
        cols = gen.event_rows(self.rng, keys)
        n = len(keys)
        cols["ts_ms"] = np.arange(self.seq + 1, self.seq + n + 1, dtype=np.int64)
        self.seq += n
        for k, u, t, v in zip(keys.tolist(), cols["user_id"].tolist(),
                              cols["event_type"].tolist(), cols["value"].tolist()):
            self.truth[k] = (u, t, v)
        return pa.table(cols)

    def upsert_wave(self, n: int) -> pa.Table:
        n_new = int(round(n * INSERT_SHARE))
        return self.wave(n - n_new, n_new)


def _land(landing: str, name: str, tbl: pa.Table) -> int:
    tmp = os.path.join(landing, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    size = os.path.getsize(tmp)
    os.rename(tmp, os.path.join(landing, f"{name}.parquet"))
    return size


def _end_offset(ck: str, batch_id: int) -> int:
    with open(os.path.join(ck, "offsets", str(batch_id))) as f:
        last_line = f.read().strip().splitlines()[-1]
    return int(json.loads(last_line)["last"])


class Stream:
    """The capture query plus what its ``foreachBatch`` observed."""

    def __init__(self, ctx, landing: str, store: str, ck: str):
        from pyspark.sql import functions as F

        from siddhi_io_cdc_spark.operators.mutate import merge_into_bucketed_parquet
        from siddhi_io_cdc_spark.sources.polling import register_cdc_poll

        self.ctx = ctx
        self.batches: list[tuple[int, float, float, int]] = []  # id, start, end, end_seq
        self.landed_seq = 0
        self.committed_seq = 0
        self.backlog_max = 0
        self.buckets_rewritten: list[int] = []
        self.bytes_written = 0
        spark, tracer = ctx.spark, ctx.tracer

        def apply(batch_df, batch_id):
            with tracer.span("bench.foreach_batch"):
                t0 = time.perf_counter()
                end_seq = _end_offset(ck, batch_id)
                self.backlog_max = max(self.backlog_max, self.landed_seq - self.committed_seq)
                before = parquet_files(store) if tracer.enabled else None
                with tracer.span("operators.mutate.merge_into_bucketed_parquet"):
                    merge_into_bucketed_parquet(
                        spark, store, batch_df.withColumn("operation", F.lit("upsert")),
                        key=["event_id"],
                    )
                t1 = time.perf_counter()
                self.committed_seq = end_seq
                self.batches.append((batch_id, t0, t1, end_seq))
                if before is not None:
                    after = parquet_files(store)
                    new = {p: s for p, s in after.items() if p not in before}
                    self.buckets_rewritten.append(len({os.path.dirname(p) for p in new}))
                    self.bytes_written += sum(new.values())

        with tracer.span("sources.polling.register_cdc_poll"):
            register_cdc_poll(spark)
        with tracer.span("sources.polling.load"):
            src = (
                spark.readStream.format("cdc-poll")
                .option("path", landing)
                .option("pollingColumn", "ts_ms")
                .option("startFrom", "earliest")
                .option("numPartitions", str(ctx.nproc))
                .load()
            )
        self.query = src.writeStream.foreachBatch(apply).option("checkpointLocation", ck).start()
        ctx.on_close(self.stop)

    def drain(self) -> None:
        self.query.processAllAvailable()

    def commit_time(self, seq: int) -> float:
        """End of the first batch whose commit covers ``seq``."""
        return min(end for _bid, _s, end, end_seq in self.batches if end_seq >= seq)

    def stop(self) -> None:
        if self.query.isActive:
            self.query.stop()


def run(ctx) -> None:
    from siddhi_io_cdc_spark.operators.mutate import read_bucketed_store

    tracer = ctx.tracer
    session_s = ctx.start_session()
    spark = ctx.spark
    landing, store, ck = ctx.path("landing"), ctx.path("store"), ctx.path("ck")

    # -- setup: fixtures (median of SETUP_REPS builds), stream start, bootstrap
    fixture_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tracer.span("bench.fixtures"):
            # every file pre-made, so the generator thread only writes files
            ups = Upserts(ctx.seed)
            seed_tbl = ups.wave(0, N_KEYS)
            n_waves = max(1, int(ctx.seconds / WAVE_INTERVAL_S))
            waves = [ups.upsert_wave(WAVE_EVENTS) for _ in range(n_waves)]
            backlog = ups.upsert_wave(BACKLOG_EVENTS)
            os.makedirs(landing, exist_ok=True)
            _land(landing, "seed", seed_tbl)
        fixture_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    stream = Stream(ctx, landing, store, ck)
    stream.landed_seq = N_KEYS
    stream.drain()
    store_bytes_setup = dir_bytes(store)
    stream.buckets_rewritten, stream.bytes_written, stream.backlog_max = [], 0, 0
    boot_s = time.perf_counter() - t0
    ctx.e2e["setup_s"] = session_s + median(fixture_s) + boot_s
    ctx.notes["setup_s"] = (
        f"session {session_s:.2f} + fixtures median {median(fixture_s):.2f} "
        f"(n={SETUP_REPS}) + stream start/bootstrap {boot_s:.2f}"
    )
    setup_batches = {b[0] for b in stream.batches}
    setup_jobs = group_jobs(spark, str(stream.query.runId))

    # -- timed phase: open-loop waves on a fixed schedule
    gc0 = jvm_gc_ms(spark)
    late_ms: list[float] = []
    landed: list[tuple[float, int, int]] = []  # scheduled, max_seq, bytes
    t_start = time.perf_counter()

    def generate():
        for i, tbl in enumerate(waves):
            due = t_start + i * WAVE_INTERVAL_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            with tracer.span("bench.land_wave"):
                size = _land(landing, f"wave-{i:05d}", tbl)
            stream.landed_seq = int(tbl["ts_ms"][-1].as_py())
            late_ms.append((time.perf_counter() - due) * 1000.0)
            landed.append((due, stream.landed_seq, size))

    gen_thread = threading.Thread(target=generate, name="perfbench-generator")
    gen_thread.start()
    gen_thread.join()
    stream.drain()
    t_waves_done = time.perf_counter()
    fresh_ms = [(stream.commit_time(seq) - due) * 1000.0 for due, seq, _ in landed]
    backlog_max = stream.backlog_max

    # -- final backlog, landed at once and drained
    t_land = time.perf_counter()
    backlog_bytes = _land(landing, "backlog", backlog)
    stream.landed_seq = int(backlog["ts_ms"][-1].as_py())
    stream.drain()
    drain_s = stream.commit_time(stream.landed_seq) - t_land
    gc_ms = jvm_gc_ms(spark) - gc0
    t_check = time.perf_counter()

    # -- untimed correctness: the whole store vs last-write-wins by key
    cols = read_bucketed_store(spark, store).toArrow().to_pydict()
    n_rows = len(cols["event_id"])
    store_tbl = dict(zip(cols["event_id"], zip(cols["user_id"], cols["event_type"], cols["value"])))
    ctx.attempted += len(landed) + 2
    if n_rows != len(store_tbl) or store_tbl != ups.truth:
        missing = len(set(ups.truth) - set(store_tbl))
        wrong = sum(1 for k, v in store_tbl.items() if ups.truth.get(k) != v)
        ctx.mismatch(
            f"store has {n_rows} rows / {len(store_tbl)} keys, generator {len(ups.truth)} keys; "
            f"{missing} missing, {wrong} differ"
        )

    ctx.details.append(
        f"phase s: waves and drain {t_waves_done - t_start:.2f}, backlog {t_check - t_waves_done:.2f}, "
        f"check {time.perf_counter() - t_check:.2f}"
    )

    # -- end-to-end metrics
    f_tail, f_pct, f_n = tail(fresh_ms)
    ctx.e2e.update(
        {
            "events_per_s": BACKLOG_EVENTS / drain_s,
            "freshness_p50_ms": median(fresh_ms),
            "freshness_tail_ms": f_tail,
        }
    )
    ctx.notes.update(
        {
            "events_per_s": f"backlog of {BACKLOG_EVENTS} events, committed {drain_s:.3f} s after landing",
            "freshness_p50_ms": f"n={f_n} waves of {WAVE_EVENTS} every {WAVE_INTERVAL_S} s",
            "freshness_tail_ms": f"p{f_pct:.1f} n={f_n}",
        }
    )

    ctx.details.append(
        "merge s per batch: " + " ".join(f"{e - s:.2f}" for _b, s, e, _q in stream.batches)
    )

    # -- per-layer metrics
    timed = [p for p in data_progress(stream.query) if p["batchId"] not in setup_batches]
    events = sum(t.num_rows for t in waves) + BACKLOG_EVENTS
    jobs = group_jobs(spark, str(stream.query.runId)) - setup_jobs
    n_jobs, n_tasks = len(jobs), group_tasks(spark, jobs)
    nb = max(1, len(timed))
    merge = tracer.durations("operators.mutate.merge_into_bucketed_parquet")
    # the first merge creates the store; the growth shows over the later ones
    merge_ms = [m * 1000.0 for m in merge[1:]]
    ctx.stream_self["sources.polling"], ctx.stream_self["spark"] = stream_self_s(
        progress_list(stream.query), sum(tracer.durations("bench.foreach_batch"))
    )
    L = ctx.layer
    L.update(
        {
            "bench.peak_rss_mb": peak_rss_mb(spark),
            "sources.polling.latest_offset_ms": duration_p50(timed, "latestOffset"),
            "sources.polling.rows_read_per_event": sum(p["numInputRows"] for p in timed) / events,
            "sources.polling.backlog_events_max": backlog_max,
            "bench.generator_late_ms_max": max(late_ms) if late_ms else 0.0,
            "spark.stream.batches": len(timed),
            "spark.stream.events_per_batch": events / nb,
            "spark.stream.query_planning_ms": duration_p50(timed, "queryPlanning"),
            "spark.stream.add_batch_ms": duration_p50(timed, "addBatch"),
            "spark.stream.wal_commit_ms": duration_p50(timed, "walCommit"),
            "spark.stream.commit_offsets_ms": duration_p50(timed, "commitOffsets"),
            "spark.jobs_per_batch": n_jobs / nb,
            "spark.tasks_per_batch": n_tasks / nb,
            "spark.gc_ms": gc_ms,
            "operators.mutate.merge_ms": median(merge_ms[len(merge_ms) - len(timed):]),
            "operators.mutate.merge_ms_slope": slope(merge_ms),
            "operators.mutate.buckets_rewritten_per_batch": median(stream.buckets_rewritten),
            "operators.mutate.write_amplification": stream.bytes_written
            / max(1, sum(b for _d, _s, b in landed) + backlog_bytes),
            "operators.mutate.store_files": len(parquet_files(store)),
            "operators.mutate.store_bytes_ratio": dir_bytes(store) / max(1, store_bytes_setup),
        }
    )
