"""BPE tokenizer training and encoding as Spark-native string/array ops.

Extends the one-round pair statistic (:func:`text.bpe_pair_counts`) to the
full iterative byte-pair-encoding trainer of Sennrich et al. 2016 (the
word-frequency-table formulation), plus a merge-applying encoder — the two
halves of what an LLM-training-data pipeline actually runs. The reference
engine (siddhi-io-cdc, an I/O connector) has no tokenizer surface; this
module belongs to the LLM-pipeline extension the engine grades first-class.

Representation: a word is a string of delimited symbols — ``hello`` →
``(h)(e)(l)(l)(o)`` — so applying merge ``(l, r)`` is a single literal
``replace('(l)(r)' -> '(lr)')``. The delimiters make adjacent matches
disjoint (no shared separator character), so one left-to-right global
``replace`` implements exactly the classic non-overlapping merge pass:
``(a)(a)(a)`` → ``(aa)(a)``, ``(a)(b)(a)(b)`` → ``(ab)(ab)``. The same
literal calls exist in ANSI SQL (``replace`` / ``trim`` / ``string_split``),
which is what makes both the trainer and the encoder exactly
oracle-checkable — unusual for an iterative algorithm.

Scale notes (100 TB):
- the corpus is read ONCE: the word-frequency aggregate has map-side
  partial aggregation, so the shuffle is vocabulary-sized (~10^7 rows at
  web scale), not corpus-sized;
- every merge round then runs over the CACHED vocabulary — find the
  best pair (one vocabulary-sized aggregate, one single-row collect) and
  rewrite symbol strings (narrow map). Training cost is
  ``O(corpus) + n_merges * O(|vocab|)``;
- encoding is a map-only pass: per word, the chained literal ``replace``
  expressions run inside whole-stage codegen — no shuffle, no Python, no
  driver involvement — so encoding 100 TB parallelizes perfectly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from siddhi_io_cdc_spark.util import aqe_off, fan_out as _fan_out

#: Pre-tokenization: lowercase alphabetic runs, the same word universe as
#: :func:`text.bpe_pair_counts` (so one trainer round there matches the
#: first merge learned here).
WORD_RE = "[a-z]+"


def _wrap_symbols(word: Column) -> Column:
    """``hello`` → ``(h)(e)(l)(l)(o)`` — each character its own symbol."""
    return F.regexp_replace(word, "(.)", r"($1)")


def _split_symbols(sym: Column) -> Column:
    """``(h)(e)(ll)(o)`` → ``['h', 'e', 'll', 'o']``."""
    return F.split(F.btrim(sym, F.lit("()")), r"\)\(")


def _apply_merge(sym: Column, left: str, right: str) -> Column:
    """One BPE merge = one literal global replace on the symbol string."""
    return F.replace(
        sym, F.lit(f"({left})({right})"), F.lit(f"({left}{right})")
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_word_len: int = 2,
    checkpoint_every: int = 16,
    sample_rate: float | None = None,
    sample_id_col: str = "doc_id",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from a corpus.

    Returns ``(merge_rank, left, right, pair_count)`` — merge ``i`` is the
    adjacent symbol pair with the highest corpus-weighted count after
    applying merges ``1..i-1``; ties break lexicographically (left, then
    right), making the whole merge table deterministic and SQL-restatable
    round by round (the contract oracle chains one CTE per merge).

    Each round does ONE bounded driver collect (exactly the 1-row best
    pair — a scalar handoff, not a data path) and rewrites the cached
    vocabulary with one more literal replace; the corpus itself is touched
    only by the initial word-count pass.

    Realistic-vocabulary scale (32k-100k merges) is bounded by DRIVER-side
    cost, not data volume: building round ``k``'s plan from round ``k-1``'s
    lineage re-analyzes a chain of ``k`` replaces (O(n²) total plan work),
    and executing it re-applies all ``k`` from the cached base. Two knobs
    close this:

    - ``checkpoint_every``: every K merges the rewritten vocabulary is
      materialized with ``localCheckpoint`` (vocabulary-sized, NOT
      corpus-sized) and the lineage truncated, so plans stay ≤ K replaces
      deep and total work is O(n_merges·K·|vocab|) — linear in merges. The
      measured merges-vs-wall curve lives in ``BASELINE.md``.
    - ``sample_rate``: the industry-standard split — TRAIN on a
      deterministic hash-sample of the corpus (``text.deterministic_sample``
      keyed on ``sample_id_col``; engine-portable, partitioning-independent),
      then ENCODE the full corpus with the learned table. Merge statistics
      saturate at a few GB of text, so the word-count pass needn't scan
      100 TB.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive (got {n_merges})")
    if checkpoint_every <= 0:
        raise ValueError(f"checkpoint_every must be positive (got {checkpoint_every})")
    if sample_rate is not None:
        from siddhi_io_cdc_spark.functions.text import deterministic_sample

        df = deterministic_sample(df, sample_rate, id_col=sample_id_col)
    spark = df.sparkSession
    vocab = (
        _fan_out(df.select(F.col(text_col)))
        .select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
            ).alias("__w")
        )
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .where(F.length("__w") >= min_word_len)
        .select(_wrap_symbols(F.col("__w")).alias("__sym"), "__freq")
        # localCheckpoint, not persist: same vocabulary-sized storage, but
        # the lineage (corpus explode + aggregate) is CUT, so each round's
        # best-pair plan analyzes a leaf scan instead of the whole
        # word-count tree (the same fix as the classifier GD loop; the
        # later checkpoint_every truncation already relied on this being
        # safe for the vocabulary table).
        .localCheckpoint()
    )
    # Every round reduces to ONE collected row (the argmax pair) — there
    # is nothing for AQE to adapt at any scale, but it splits each round
    # into two jobs with a re-planning barrier. Scope it off for the loop
    # via the shared refcounted scope (race-free across concurrent
    # trainers).
    try:
        with aqe_off(spark):
            merges = _bpe_merge_rounds(vocab, n_merges, checkpoint_every)
    finally:
        # checkpointed blocks are released by the ContextCleaner once the
        # DataFrame goes out of scope
        del vocab
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, left string, right string, pair_count bigint",
    )


def _bpe_merge_rounds(
    vocab: DataFrame, n_merges: int, checkpoint_every: int
) -> list[tuple[int, str, str, int]]:
    """The BPE argmax-merge loop over the checkpointed symbol table —
    split out of :func:`bpe_train` so the AQE scope wraps exactly the
    driver loop."""
    merges: list[tuple[int, str, str, int]] = []
    cur = vocab
    pending = 0  # replaces applied since the last lineage truncation
    for rank in range(1, n_merges + 1):
        staged = cur.withColumn("__syms", _split_symbols(F.col("__sym"))).where(
            F.size("__syms") >= 2
        )
        pairs = F.zip_with(
            F.slice(F.col("__syms"), 1, F.size("__syms") - 1),
            F.slice(F.col("__syms"), 2, F.size("__syms") - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        # bounded collect: exactly one row (the argmax pair) per round
        best = (
            staged.select(F.explode(pairs).alias("__p"), "__freq")
            .groupBy(F.col("__p.l").alias("l"), F.col("__p.r").alias("r"))
            .agg(F.sum("__freq").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary fully merged before n_merges rounds
            break
        left, right, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((rank, left, right, int(cnt)))
        cur = cur.withColumn("__sym", _apply_merge(F.col("__sym"), left, right))
        pending += 1
        if pending >= checkpoint_every and rank < n_merges:
            # Materialize the vocabulary-sized table and CUT the lineage:
            # without this, round k's plan carries k chained replaces
            # (quadratic plan-analysis + re-execution cost — the real
            # binding constraint at 32k+ merges, measured in BASELINE.md).
            cur = cur.localCheckpoint(eager=True)
            pending = 0
    return merges


def bpe_encode(
    df: DataFrame,
    merges: Sequence[tuple[str, str]] | DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table to a corpus — append ``bpe_tokens``
    (array<string>) and ``n_bpe_tokens``.

    ``merges``: rank-ordered ``(left, right)`` pairs, or the DataFrame
    returned by :func:`bpe_train` (collected here — a merge table is
    vocabulary-of-merges sized, i.e. tiny and bounded by construction).

    The encoder is the replace chain itself: per word, wrap characters,
    apply each merge as one literal replace IN RANK ORDER, split back to
    symbols. All inside one ``transform`` over the word array — map-only,
    whole-stage codegen, so it composes into ingest pipelines at any scale.
    """
    if isinstance(merges, DataFrame):
        # bounded collect: the merge table (n_merges rows) is a model
        # artifact, not a data path
        merges = [
            (r["left"], r["right"])
            for r in merges.orderBy("merge_rank").collect()
        ]
    merge_list = list(merges)

    def encode_word(w: Column) -> Column:
        sym = _wrap_symbols(w)
        for left, right in merge_list:
            sym = _apply_merge(sym, left, right)
        return _split_symbols(sym)

    words = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_RE), 0)
    toks = F.flatten(F.transform(words, encode_word))
    return df.withColumn("bpe_tokens", toks).withColumn(
        "n_bpe_tokens", F.size(F.col("bpe_tokens"))
    )


def save_bpe_model(spark, merges: DataFrame | Sequence[tuple], path: str) -> None:
    """Persist a learned merge table as a JSON model artifact through the
    Hadoop FS API (s3a/hdfs/local — the same transport as the IVF/PQ
    codebooks), so a tokenizer trained once rides into every ingest job.
    A merge table is n_merges rows — a model, not a data path."""
    import json

    from siddhi_io_cdc_spark.util import _hadoop_write_text

    if isinstance(merges, DataFrame):
        rows = [
            [int(r["merge_rank"]), r["left"], r["right"], int(r["pair_count"])]
            for r in merges.orderBy("merge_rank").collect()
        ]
    else:
        rows = [
            [i + 1, left, right, int(cnt) if cnt is not None else 0]
            for i, (left, right, *rest) in enumerate(
                (m if len(m) != 4 else m[1:]) for m in merges
            )
            for cnt in [rest[0] if rest else 0]
        ]
    _hadoop_write_text(
        spark, path, json.dumps({"kind": "bpe", "merges": rows})
    )


def load_bpe_model(spark, path: str) -> list[tuple[str, str]]:
    """Load a :func:`save_bpe_model` artifact as the rank-ordered
    ``(left, right)`` list :func:`bpe_encode` consumes."""
    import json

    from siddhi_io_cdc_spark.util import _hadoop_read_text

    model = json.loads(_hadoop_read_text(spark, path))
    if model.get("kind") != "bpe":
        raise ValueError(f"not a BPE model artifact: {path}")
    return [(m[1], m[2]) for m in sorted(model["merges"], key=lambda m: m[0])]
