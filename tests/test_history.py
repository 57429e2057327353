"""SCD2 history materialization and point-in-time lookup
(operators/history.py)."""

from pyspark.sql import functions as F

from siddhi_io_cdc_spark.operators.history import changelog_history, temporal_lookup


def _changelog(spark):
    return spark.createDataFrame(
        [
            ("k1", "a", "insert", 10),
            ("k1", "b", "update", 20),
            ("k1", None, "delete", 30),
            ("k1", "c", "insert", 40),
            ("k2", "x", "insert", 15),
        ],
        "id string, v string, operation string, ts_ms long",
    )


def test_history_intervals_tombstones_current(spark):
    h = {
        (r.id, r.valid_from): (r.v, r.valid_to, r.is_deleted, r.is_current)
        for r in changelog_history(_changelog(spark), key=["id"]).collect()
    }
    assert h == {
        ("k1", 10): ("a", 20, False, False),
        ("k1", 20): ("b", 30, False, False),
        ("k1", 30): (None, 40, True, False),  # tombstone interval
        ("k1", 40): ("c", None, False, True),
        ("k2", 15): ("x", None, False, True),
    }


def test_history_rekeys_deletes_from_before_image(spark):
    """Multi-op flatten gives deletes a DEFAULT key and the real key in
    before_<k>; history must version the real key."""
    ev = spark.createDataFrame(
        [("k1", "k1", "a", "insert", 1), ("", "k1", "", "delete", 2)],
        "id string, before_id string, v string, operation string, ts_ms long",
    )
    h = changelog_history(ev, key=["id"], value_cols=["v"]).collect()
    assert {r.id for r in h} == {"k1"}  # both versions under the real key
    assert [r.is_deleted for r in sorted(h, key=lambda r: r.valid_from)] == [False, True]


def test_temporal_lookup_point_in_time(spark):
    h = changelog_history(_changelog(spark), key=["id"])
    facts = spark.createDataFrame(
        [(1, "k1", 5), (2, "k1", 20), (3, "k1", 35), (4, "k1", 99), (5, "kX", 7)],
        "fid long, id string, t long",
    )
    got = {r.fid: r.v for r in temporal_lookup(facts, h, on=["id"], fact_time="t").collect()}
    # t=5 pre-history, t=20 hits version start (inclusive), t=35 inside the
    # tombstone, t=99 current, kX unknown key.
    assert got == {1: None, 2: "b", 3: None, 4: "c", 5: None}


def test_history_matches_bruteforce_interval_join(spark):
    """Property-ish check on the fixture: every (key, t) probe agrees with a
    brute-force 'latest event at or before t' replay."""
    import itertools
    import random

    rnd = random.Random(7)
    rows = []
    for k in ("a", "b", "c"):
        ts = sorted(rnd.sample(range(1, 60), 8))
        for i, t in enumerate(ts):
            op = rnd.choice(["insert", "update", "delete"])
            rows.append((k, f"{k}{i}", op, t))
    df = spark.createDataFrame(rows, "id string, v string, operation string, ts_ms long")
    h = changelog_history(df, key=["id"], value_cols=["v"])
    probes = [(i, k, t) for i, (k, t) in enumerate(itertools.product("abc", range(0, 62, 5)))]
    facts = spark.createDataFrame(probes, "fid long, id string, t long")
    got = {
        (r.id, r.t): r.v
        for r in temporal_lookup(facts, h, on=["id"], fact_time="t").collect()
    }
    events = {}
    for k, v, op, t in rows:
        events.setdefault(k, []).append((t, v, op))
    for _, k, t in probes:
        past = [e for e in events[k] if e[0] <= t]
        want = None
        if past:
            last = max(past)
            want = None if last[2] == "delete" else last[1]
        assert got[(k, t)] == want, (k, t, got[(k, t)], want)


def test_incremental_history_matches_one_shot(spark, tmp_path):
    """Micro-batched history maintenance == one-shot changelog_history over
    all events, and replaying a batch changes nothing (idempotent)."""
    import os

    from siddhi_io_cdc_spark.operators.history import merge_history_into_parquet

    store = os.path.join(str(tmp_path), "hist")
    all_rows = [
        ("k1", "a", "insert", 10),
        ("k2", "x", "insert", 12),
        ("k1", "b", "update", 20),
        ("k1", None, "delete", 30),
        ("k2", "y", "update", 25),
        ("k1", "c", "insert", 40),
    ]
    schema = "id string, v string, operation string, ts_ms long"
    b1 = spark.createDataFrame(all_rows[:2], schema)
    b2 = spark.createDataFrame(all_rows[2:4], schema)
    b3 = spark.createDataFrame(all_rows[4:], schema)
    for b in (b1, b2, b3):
        merge_history_into_parquet(spark, store, b, key=["id"], num_buckets=4)
    # replay the middle batch (checkpoint-restart double delivery)
    merge_history_into_parquet(spark, store, b2, key=["id"], num_buckets=4)

    got = {
        (r.id, r.valid_from): (r.v, r.valid_to, r.is_deleted, r.is_current)
        for r in spark.read.parquet(store).collect()
    }
    want = {
        (r.id, r.valid_from): (r.v, r.valid_to, r.is_deleted, r.is_current)
        for r in changelog_history(
            spark.createDataFrame(all_rows, schema), key=["id"]
        ).collect()
    }
    assert got == want
    assert len(got) == 6


def test_incremental_history_empty_batch_is_noop(spark, tmp_path):
    """A zero-row micro-batch after a non-empty one leaves the history
    store unchanged (it used to fail schema inference on empty staging)."""
    import os

    from siddhi_io_cdc_spark.operators.history import merge_history_into_parquet

    store = os.path.join(str(tmp_path), "hist")
    batch = _changelog(spark)

    def state():
        return sorted(
            (r.id, r.valid_from, r.v, r.valid_to, r.is_deleted, r.is_current)
            for r in spark.read.parquet(store).collect()
        )

    merge_history_into_parquet(spark, store, batch, key=["id"], num_buckets=4)
    before = state()
    merge_history_into_parquet(spark, store, batch.where("false"), key=["id"], num_buckets=4)
    assert state() == before
    assert len(before) == 5


def test_streaming_enrichment_against_history_store(spark, tmp_path):
    """E2E composition: a changelog stream maintains the history store via
    foreachBatch; a second (fact) stream enriches each micro-batch with
    point-in-time state from that store — the streaming form of a
    dimension lookup that respects event time."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from siddhi_io_cdc_spark.operators.history import (
        foreach_batch_history,
        temporal_lookup,
    )

    src = os.path.join(str(tmp_path), "chg")
    facts_src = os.path.join(str(tmp_path), "facts")
    store = os.path.join(str(tmp_path), "hist")
    os.makedirs(src)
    os.makedirs(facts_src)
    chg_schema = "id string, v string, operation string, ts_ms long"

    def put_chg(rows, name):
        ids, vs, ops, ts = zip(*rows)
        pq.write_table(
            pa.table({"id": list(ids), "v": list(vs), "operation": list(ops),
                      "ts_ms": pa.array(ts, pa.int64())}),
            f"{src}/{name}.parquet",
        )

    put_chg([("k1", "a", "insert", 10), ("k1", "b", "update", 20)], "c1")
    hq = (
        spark.readStream.schema(chg_schema).parquet(src)
        .writeStream.foreachBatch(
            foreach_batch_history(spark, store, key=["id"], num_buckets=4)
        )
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_h"))
        .start()
    )
    hq.processAllAvailable()

    enriched = []

    def enrich(batch_df, batch_id):
        hist = spark.read.parquet(store).drop("__bucket")
        out = temporal_lookup(batch_df, hist, on=["id"], fact_time="t")
        enriched.extend((r.fid, r.v) for r in out.collect())

    pq.write_table(
        pa.table({"fid": pa.array([1, 2], pa.int64()), "id": ["k1", "k1"],
                  "t": pa.array([15, 25], pa.int64())}),
        f"{facts_src}/f1.parquet",
    )
    fq = (
        spark.readStream.schema("fid long, id string, t long").parquet(facts_src)
        .writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ck_f"))
        .start()
    )
    fq.processAllAvailable()
    fq.stop()
    hq.stop()
    assert sorted(enriched) == [(1, "a"), (2, "b")]
