"""``envelope_mor`` — closed loop, one client: listening-mode change envelopes
into the merge-on-read BM25 index, with probes beside the writes.

Setup builds ``write_bm25_index(layout="mor")`` over a seeded corpus. Each
round lands one JSON-lines file of seeded insert/update/delete envelopes
with real before-images. A listening-mode stream
(``sources.envelope.read_changelog_stream`` → multi-op
``operators.flatten.flatten``, the pair ``api.cdc_read_stream`` composes)
applies it through ``foreachBatch`` → ``apply_changelog_bm25(batch_id=…)``,
and the round waits with ``processAllAvailable``. The round then issues a
fixed number of seeded 3-term ``bm25_topk_indexed`` probes.
``compact_every`` is small enough that every run compacts at least twice.

Freshness of a round runs from its file's landing to the end of the
``foreachBatch`` that applied it.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import gen
from common import (
    data_progress,
    dir_bytes,
    duration_p50,
    group_jobs,
    group_tasks,
    jvm_gc_ms,
    median,
    peak_rss_mb,
    progress_list,
    stream_self_s,
    tail,
)

N_DOCS = 2000
ROUND_INSERTS, ROUND_UPDATES, ROUND_DELETES = 20, 20, 10
PROBES_PER_ROUND = 6
COMPACT_EVERY = 2
TOP_K = 10


class Changes:
    """Seeded document changes and the live corpus they leave behind."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.live: dict[int, str] = {}
        self.next_id = 0
        self.seq = 0

    def corpus(self, n: int):
        tbl = gen.documents(self.rng, n)
        self.live = dict(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
        self.next_id = n
        return tbl.select(["doc_id", "text"])

    def round(self) -> list[dict]:
        ids = sorted(self.live)
        picked = self.rng.choice(len(ids), ROUND_UPDATES + ROUND_DELETES, replace=False)
        events = []
        for j, pos in enumerate(picked):
            doc_id = ids[pos]
            before = {"doc_id": doc_id, "text": self.live[doc_id]}
            if j < ROUND_UPDATES:
                after = {"doc_id": doc_id, "text": gen.doc_text(self.rng, int(self.rng.integers(10, 101)))}
                events.append(("u", before, after))
                self.live[doc_id] = after["text"]
            else:
                events.append(("d", before, None))
                del self.live[doc_id]
        for _ in range(ROUND_INSERTS):
            after = {"doc_id": self.next_id, "text": gen.doc_text(self.rng, int(self.rng.integers(10, 101)))}
            events.append(("c", None, after))
            self.live[self.next_id] = after["text"]
            self.next_id += 1
        out = []
        for op, before, after in events:
            self.seq += 1
            out.append(
                {"op": op, "before": before, "after": after,
                 "source": {"ts_ms": self.seq}, "ts_ms": self.seq}
            )
        return out

    def query(self) -> list[str]:
        return [gen.VOCAB[i] for i in self.rng.choice(len(gen.VOCAB), 3, replace=False)]


def _land(landing: str, name: str, envelopes: list[dict]) -> None:
    tmp = os.path.join(landing, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in envelopes:
            f.write(json.dumps(e) + "\n")
    os.rename(tmp, os.path.join(landing, f"{name}.json"))


def _compacted_through(idx: str) -> int:
    with open(os.path.join(idx, "_mor.json")) as f:
        return int(json.load(f)["compacted_through"])


def run(ctx) -> None:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from siddhi_io_cdc_spark.functions.retrieval import bm25_topk
    from siddhi_io_cdc_spark.operators.flatten import flatten
    from siddhi_io_cdc_spark.sources.envelope import read_changelog_stream
    from siddhi_io_cdc_spark.streaming.bm25_index import (
        apply_changelog_bm25,
        bm25_topk_indexed,
        read_bm25_stats,
        write_bm25_index,
    )
    from siddhi_io_cdc_spark.streaming.mor import mor_pending_seqs

    tracer = ctx.tracer
    session_s = ctx.start_session()
    spark = ctx.spark
    landing, idx, ck = ctx.path("landing"), ctx.path("index"), ctx.path("ck")
    os.makedirs(landing)

    # -- setup: corpus + index build, stream start, one warm-up round
    t0 = time.perf_counter()
    ch = Changes(ctx.seed)
    with tracer.span("bench.fixtures"):
        docs = spark.createDataFrame(ch.corpus(N_DOCS).to_pandas())
    with tracer.span("streaming.bm25_index.write_bm25_index"):
        write_bm25_index(spark, docs, idx, layout="mor", compact_every=COMPACT_EVERY)
    build_bytes = dir_bytes(idx)

    applies: list[tuple[int, float, float]] = []  # batch id, start, end

    def apply(batch_df, batch_id):
        with tracer.span("bench.foreach_batch"):
            t_a = time.perf_counter()
            with tracer.span("streaming.bm25_index.apply_changelog_bm25"):
                apply_changelog_bm25(spark, idx, batch_df, batch_id=batch_id)
            applies.append((batch_id, t_a, time.perf_counter()))

    row_schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    with tracer.span("sources.envelope.read_changelog_stream"):
        env = read_changelog_stream(spark, landing, row_schema)
    with tracer.span("operators.flatten.flatten"):
        flat = flatten(env, operations=["insert", "update", "delete"])
    query = flat.writeStream.foreachBatch(apply).option("checkpointLocation", ck).start()
    ctx.on_close(lambda: query.isActive and query.stop())

    probe_ms: list[float] = []
    pending: list[int] = []
    plan_ms: list[float] = []
    exec_ms: list[float] = []

    def probe(terms):
        if tracer.enabled:
            with tracer.span("streaming.mor.mor_pending_seqs"):
                pending.append(len(mor_pending_seqs(spark, idx)))
        t_p = time.perf_counter()
        with tracer.span("streaming.bm25_index.bm25_topk_indexed"):
            df = bm25_topk_indexed(spark, idx, terms, k=TOP_K)
        t_e = time.perf_counter()
        with tracer.span("spark.collect"):
            rows = df.collect()
        t_end = time.perf_counter()
        plan_ms.append((t_e - t_p) * 1000.0)
        exec_ms.append((t_end - t_e) * 1000.0)
        return rows, (t_end - t_p) * 1000.0

    def one_round(name):
        envelopes = ch.round()
        n_before = len(applies)
        t_land = time.perf_counter()
        _land(landing, name, envelopes)
        query.processAllAvailable()
        applied = applies[n_before:]
        if len(applied) != 1:
            raise RuntimeError(f"round {name}: expected one batch, saw {len(applied)}")
        return len(envelopes), (applied[0][2] - t_land) * 1000.0, applied[0][2] - applied[0][1]

    one_round("warm")
    for _ in range(PROBES_PER_ROUND):
        probe(ch.query())
    warm_s = time.perf_counter() - t0
    ctx.e2e["setup_s"] = session_s + warm_s
    ctx.notes["setup_s"] = f"session {session_s:.2f} + index build, stream start, warm-up round {warm_s:.2f}"
    setup_batches = {a[0] for a in applies}
    setup_jobs = group_jobs(spark, str(query.runId))
    for samples in (pending, plan_ms, exec_ms):
        samples.clear()

    # -- timed phase: rounds of one file then probes, until the time is up
    gc0 = jvm_gc_ms(spark)
    fresh_ms, apply_s, events, compacted, rounds = [], [], 0, [], 0
    ct = _compacted_through(idx)
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds or rounds < 2 * COMPACT_EVERY:
        n, fresh, secs = one_round(f"round-{rounds:04d}")
        rounds += 1
        ctx.attempted += 1
        events += n
        fresh_ms.append(fresh)
        apply_s.append(secs)
        new_ct = _compacted_through(idx)
        compacted.append(new_ct != ct)
        ct = new_ct
        for _ in range(PROBES_PER_ROUND):
            _rows, ms = probe(ch.query())
            probe_ms.append(ms)
            ctx.attempted += 1
    gc_ms = jvm_gc_ms(spark) - gc0

    # -- untimed correctness: indexed probes vs the scan over the live corpus
    live = spark.createDataFrame(sorted(ch.live.items()), "doc_id long, text string")
    for _ in range(3):
        terms = ch.query()
        got, _ms = probe(terms)
        want = bm25_topk(live, terms, k=TOP_K).collect()
        ctx.attempted += 1
        if [tuple(r) for r in got] != [tuple(r) for r in want]:
            ctx.mismatch(f"probe {terms}: index {[(r[0], r[1]) for r in got][:3]} vs scan {[(r[0], r[1]) for r in want][:3]}")
    n_docs, _tokens = read_bm25_stats(spark, idx)
    ctx.attempted += 1
    if n_docs != len(ch.live):
        ctx.mismatch(f"index counts {n_docs} live documents, generator {len(ch.live)}")
    if sum(compacted) < 2:
        ctx.mismatch(f"only {sum(compacted)} compactions in {rounds} rounds")

    # -- end-to-end metrics
    f_tail, f_pct, f_n = tail(fresh_ms)
    p_tail, p_pct, p_n = tail(probe_ms)
    ctx.e2e.update(
        {
            "events_per_s": events / sum(apply_s),
            "freshness_p50_ms": median(fresh_ms),
            "freshness_tail_ms": f_tail,
            "probe_p50_ms": median(probe_ms),
            "probe_tail_ms": p_tail,
        }
    )
    ctx.layer["bench.peak_rss_mb"] = peak_rss_mb(spark)
    ctx.notes.update(
        {
            "events_per_s": f"{events} events in {rounds} rounds, apply wall {sum(apply_s):.3f} s",
            "freshness_p50_ms": f"n={f_n} rounds",
            "freshness_tail_ms": f"p{f_pct:.1f} n={f_n}",
            "probe_p50_ms": f"n={p_n} probes, {PROBES_PER_ROUND} per round",
            "probe_tail_ms": f"p{p_pct:.1f} n={p_n}",
        }
    )

    # -- per-layer metrics
    timed = [p for p in data_progress(query) if p["batchId"] not in setup_batches]
    jobs = group_jobs(spark, str(query.runId)) - setup_jobs
    nb = max(1, len(timed))
    compact_rounds = [s for s, c in zip(apply_s, compacted) if c]
    state_bytes = dir_bytes(idx)
    ctx.stream_self["sources.envelope"], ctx.stream_self["spark"] = stream_self_s(
        progress_list(query), sum(tracer.durations("bench.foreach_batch"))
    )
    ctx.layer.update(
        {
            "sources.envelope.latest_offset_ms": duration_p50(timed, "latestOffset"),
            "sources.envelope.rows_read_per_event": sum(p["numInputRows"] for p in timed) / max(1, events),
            "spark.stream.batches": len(timed),
            "spark.stream.events_per_batch": events / nb,
            "spark.stream.query_planning_ms": duration_p50(timed, "queryPlanning"),
            "spark.stream.add_batch_ms": duration_p50(timed, "addBatch"),
            "spark.stream.wal_commit_ms": duration_p50(timed, "walCommit"),
            "spark.stream.commit_offsets_ms": duration_p50(timed, "commitOffsets"),
            "spark.jobs_per_batch": len(jobs) / nb,
            "spark.tasks_per_batch": group_tasks(spark, jobs) / nb,
            "spark.gc_ms": gc_ms,
            "streaming.bm25_index.apply_ms": median(apply_s) * 1000.0,
            "streaming.mor.compactions": sum(compacted),
            "streaming.mor.compact_round_ms": median(compact_rounds) * 1000.0,
            "streaming.mor.state_bytes": state_bytes,
            "streaming.mor.state_bytes_ratio": state_bytes / max(1, build_bytes),
            "streaming.bm25_index.probe_plan_ms": median(plan_ms),
            "streaming.bm25_index.probe_exec_ms": median(exec_ms),
            "streaming.mor.pending_deltas": median(pending),
        }
    )
