"""CDC-incremental DSIR: hashed-ngram LM bucket tables maintained under a
changelog stream.

``functions/export.dsir_weights`` builds both bucket LMs (raw corpus and
target slice) from a corpus snapshot; a standing curation pipeline wants
the LMs kept current as documents arrive, mutate, and disappear through
CDC — without re-scanning the corpus per batch. The state is IDEAL for
this: both LMs are fixed ``buckets``-row count tables (1024 by default) at
ANY corpus size, and counts are LINEAR — an insert adds each hashed gram
once, a delete subtracts, an update is both — so the maintained state
after any changelog equals the tables ``dsir_weights`` would build over
the corpus the changelog produces, count for count (pinned by test against
``operators.mutate.apply_changelog``). Per batch the work is
O(batch grams + buckets), never O(corpus).

Target membership: ``dsir_weights`` takes an arbitrary boolean Column over
the document's columns. Under CDC the OLD row's membership matters too (an
update can move a document into or out of the target slice), so the
applier takes BOTH ``target`` (over after-image columns) and
``before_target`` (over ``before_<col>`` columns); the flatten operator's
update projection supplies exactly those columns.

State/crash story: identical to ``streaming/sketch.py`` (linear state
cannot replay an in-place merge) — each apply writes a NEW versioned
directory and commits by swapping the pointer file, whose recorded
batch_id doubles as the replay-skip marker. Hash geometry (buckets/seed/
text_col) persists in ``_meta.json`` so a mismatched probe cannot corrupt
the counts silently.

Scoring from maintained state (``dsir_weights_from_state``) restates
EXACTLY the batch scorer's arithmetic (the shared ``_dsir_score`` tail and
the shared ``dsir_hashed_grams`` feature stream), so weights from the
maintained LMs are bit-equal to ``dsir_weights`` over the equivalent
corpus.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.functions.export import (
    _dsir_score,
    dsir_hashed_grams,
)
from siddhi_io_cdc_spark.streaming.sketch import (
    _META,
    _already_applied,
    _commit_state,
    _guard_before_image,
    _state_df,
)
from siddhi_io_cdc_spark.util import (
    _hadoop_read_text,
    _hadoop_write_text,
)


def write_dsir_state(
    spark,
    df: DataFrame,
    path: str,
    target: Column,
    buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> None:
    """Initialize the maintained LM state over a corpus snapshot: one
    ``(__b, __cr, __ct)`` table — raw and target counts per hash bucket
    (<= ``buckets`` rows; totals derive by summation, exact integers)."""
    if buckets <= 1:
        raise ValueError(f"buckets must be > 1 (got {buckets})")
    base = path.rstrip("/")
    _hadoop_write_text(
        spark,
        base + "/" + _META,
        json.dumps(
            {"kind": "dsir", "buckets": buckets, "seed": seed,
             "text_col": text_col, "id_col": id_col}
        ),
    )
    hashed = dsir_hashed_grams(
        df, buckets, id_col=id_col, text_col=text_col, seed=seed, flag=target
    )
    state = hashed.groupBy("__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cr"),
        F.sum(F.col("__t").cast("bigint")).cast("bigint").alias("__ct"),
    )
    _commit_state(spark, base, state, None)


def read_dsir_state(spark, path: str) -> DataFrame:
    """The current LM table ``(__b, __cr, __ct)``."""
    return _state_df(spark, path.rstrip("/"))


def apply_changelog_dsir(
    spark,
    batch_df: DataFrame,
    path: str,
    target: Column,
    before_target: Column,
    id_col: str = "doc_id",
    seq_col: str = "ts_ms",
    op_col: str = "operation",
    batch_id=None,
) -> None:
    """Apply one flattened-changelog micro-batch to the maintained LMs.

    Per document the batch contributes its NET gram delta: the latest
    surviving after image adds (raw always; target when ``target`` holds on
    the after row), the earliest event's before image subtracts when that
    event is an update/delete — i.e. the document existed before the batch
    (raw always; target when ``before_target`` holds). Intra-batch chains
    telescope away, exactly like ``apply_changelog_cms``. Buckets whose
    counts reach 0/0 drop out of the state.
    """
    from siddhi_io_cdc_spark.operators.mutate import rekey_deletes

    base = path.rstrip("/")
    if _already_applied(spark, base, batch_id):
        return
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    buckets, seed = meta["buckets"], meta["seed"]
    text_col = meta["text_col"]
    before = f"before_{text_col}"

    batch_df = rekey_deletes(batch_df, [id_col], op_col)
    _guard_before_image(batch_df, text_col, op_col)

    w_desc = Window.partitionBy(id_col).orderBy(F.col(seq_col).desc())
    w_asc = Window.partitionBy(id_col).orderBy(F.col(seq_col).asc())
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w_desc))
        .where(F.col("__rn") == 1)
    )
    earliest = (
        batch_df.withColumn("__rn", F.row_number().over(w_asc))
        .where(F.col("__rn") == 1)
    )

    def deltas(rows: DataFrame, text: str, flag: Column, sign: int) -> DataFrame:
        hashed = dsir_hashed_grams(
            rows, buckets, id_col=id_col, text_col=text, seed=seed, flag=flag
        )
        return hashed.groupBy("__b").agg(
            (F.count(F.lit(1)) * sign).cast("bigint").alias("__dcr"),
            (F.sum(F.col("__t").cast("bigint")) * sign).cast("bigint").alias("__dct"),
        )

    plus = deltas(latest.where(F.col(op_col) != "delete"), text_col, target, 1)
    movers = earliest.where(F.col(op_col).isin("update", "delete"))
    if before in batch_df.columns:
        minus = deltas(movers, before, before_target, -1)
    else:
        minus = deltas(latest.limit(0), text_col, target, -1)
    delta = (
        plus.unionByName(minus)
        .groupBy("__b")
        .agg(
            F.sum("__dcr").cast("bigint").alias("__dcr"),
            F.sum("__dct").cast("bigint").alias("__dct"),
        )
    )
    old = _state_df(spark, base)
    merged = (
        old.join(delta, "__b", "full_outer")
        .select(
            "__b",
            (F.coalesce(F.col("__cr"), F.lit(0)) + F.coalesce(F.col("__dcr"), F.lit(0)))
            .cast("bigint").alias("__cr"),
            (F.coalesce(F.col("__ct"), F.lit(0)) + F.coalesce(F.col("__dct"), F.lit(0)))
            .cast("bigint").alias("__ct"),
        )
        .where((F.col("__cr") != 0) | (F.col("__ct") != 0))
    )
    _commit_state(spark, base, merged, batch_id)


def dsir_weights_from_state(
    spark,
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str | None = None,
) -> DataFrame:
    """Score a corpus with the MAINTAINED LM tables: bit-equal to
    ``dsir_weights`` over the corpus the maintained state reflects (shared
    feature stream, shared scoring tail). The corpus passed here is
    typically the maintained document store itself (``apply_changelog``'s
    output) — the LMs are constant-size state, the corpus pass is the one
    scan scoring always costs."""
    base = path.rstrip("/")
    meta = json.loads(_hadoop_read_text(spark, base + "/" + _META))
    buckets, seed = meta["buckets"], meta["seed"]
    text_col = text_col or meta["text_col"]
    state = _state_df(spark, base)
    raw_lm = state.select("__b", F.col("__cr").alias("__cr"))
    tgt_lm = state.where(F.col("__ct") > 0).select(
        "__b", F.col("__ct").alias("__ct")
    )
    totals = state.agg(
        F.sum("__cr").cast("bigint").alias("__nr"),
        F.sum("__ct").cast("bigint").alias("__nt"),
    )
    hashed = dsir_hashed_grams(
        df, buckets, id_col=id_col, text_col=text_col, seed=seed
    )
    return _dsir_score(df, hashed, raw_lm, tgt_lm, totals, buckets, id_col)


def foreach_batch_dsir(spark, path: str, target: Column, before_target: Column, **kwargs):
    """``writeStream.foreachBatch`` adapter for :func:`apply_changelog_dsir`."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_changelog_dsir(
            spark, batch_df, path, target, before_target,
            batch_id=batch_id, **kwargs,
        )

    return _apply
