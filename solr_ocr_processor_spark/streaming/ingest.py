"""Structured Streaming ingest: incremental index maintenance.

The reference is strictly batch request/response (SURVEY §2.6 —
no event-time logic anywhere); its incremental story is "POST another
item" (app/handler/indexer.go:46-151). At 10^12-turn scale the analog
is a continuous feed of new transcript turns. This module gives the
engine a streaming surface without inventing semantics the reference
lacks:

- :func:`stream_transcripts`    — readStream over a transcript
  directory (files = micro-batches; on a cluster, Kafka/Iceberg
  incremental scan slots in with the same downstream code).
- :func:`turn_token_stream`     — per-turn tokenization as pure
  built-in expressions (JVM codegen end-to-end; the batch tokenizer's
  regex, turn-local positions).
- :func:`append_to_index`       — foreachBatch appender: each
  micro-batch's token rows land in the store's ``stream_tokens``
  table (idempotent per-batch partitions + checkpoint = exactly-once),
  the streaming analog of the per-shard build manifest. These rows
  power streaming monitoring/aggregation; the INDEX fold-in runs off
  the raw turn staging below (tokens alone can't re-derive doc-global
  ordinals/offsets, the reference's ordering lesson).
- :func:`append_turns`          — same exactly-once discipline for the
  RAW turn rows, staged under ``stream_turns``.
- :func:`merge_stream`          — fold staged turns into the queryable
  store as a NEW shard: assign fresh doc ids after the existing max,
  run the normal build path (materialize -> tokenize -> blocks with
  the refreshed global avgdl), refresh term_stats/corpus, consume the
  staged batches it read — all staged and published as one journaled
  transaction, so a crash at any point heals or re-runs to the same
  store. After the merge, queries see streamed conversations with
  scores identical to a batch build of the union (per-block stored
  avgdl + query-time bound scaling keeps older shards' WAND pruning
  exact under the avgdl drift the merge causes).
- :func:`turns_per_window`      — event-time windowed counts per role
  with a watermark: the standard late-data-tolerant monitoring agg
  over the ingest stream (build-metrics analog of S11).
- :func:`events_per_window`     — the same construct over a generic
  event stream; one plan serves batch (oracle-checkable — watermark is
  a no-op) and streaming (bounded state).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming source of transcript rows (one file set per batch)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )


def turn_token_stream(stream: DataFrame, cfg: IndexConfig = DEFAULT) -> DataFrame:
    """(conv_id, turn_idx, ts, pos_in_turn, term, char_start, char_end)
    per token of each non-empty turn — the same normalization contract
    as the batch tokenizer (lower + the [a-z0-9]+ pattern), expressed
    with built-ins so the stream stays in whole-stage codegen.

    Positions are turn-local here; doc-global offsets require the
    turn's final ordinal, which is only stable at compaction time —
    exactly the reference's lesson that ordinals must come from the
    full ordered set (app/handler/indexer.go:71-95).
    """
    toks = F.expr(f"regexp_extract_all(lower(text), '{cfg.token_pattern}', 0)")
    return (
        stream.where(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.posexplode(toks).alias("pos_in_turn", "term"),
        )
    )


def append_to_index(
    tokens: DataFrame, store_root: str, checkpoint_dir: str
):
    """Resumable micro-batch append of streaming tokens into the store.

    Returns the StreamingQuery. foreachBatch alone is only
    at-least-once (a crash between the write and the checkpoint commit
    replays the batch), so the write is made IDEMPOTENT: each batch
    overwrites its own ``batch_id=N`` subdirectory — a replay rewrites
    the same rows instead of appending duplicates, which would
    silently inflate tf/df once the stream folds into the index. The
    checkpoint + idempotent write together give exactly-once, the
    streaming analog of lifecycle.build_store's shard manifest.
    """
    def _append(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{store_root}/stream_tokens/batch_id={batch_id}")
        )

    return (
        tokens.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def append_turns(stream: DataFrame, store_root: str, checkpoint_dir: str):
    """Exactly-once staging of raw transcript turns under
    ``{store_root}/stream_turns`` (idempotent per-batch partition
    overwrite, same discipline as append_to_index). These rows are the
    input :func:`merge_stream` folds into the index."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{store_root}/stream_turns/batch_id={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_stream(spark: SparkSession, store) -> int:
    """Fold staged stream_turns into the persisted index store.

    Returns the number of conversations merged (0 = nothing staged),
    including any recovered from a previously crashed merge.

    The fold is an APPEND-ONLY shard build, not a full rebuild:

    1. staged convs already present in doc_map are dropped (re-POST
       idempotency, the reference's GET-before-POST analog);
    2. new convs get doc ids AFTER the existing max (checkpointed ids
       never move — resume/rank identity, SURVEY §4.2-5);
    3. the new shard's tokens/blocks/doc_meta are built by the SAME
       code path as the batch build, with blocks encoded against the
       post-merge global avgdl;
    4. term_stats/corpus are recomputed over all shards, and
       corpus_prior follows them so later appends see current stats;
    5. the staged batches it read are consumed.

    Crash protocol: the merge is ONE journaled transaction (the
    lifecycle module's stage → journal → swap → heal). Steps 2-4 are
    staged by ``lifecycle._stage_fold`` and the journal publishes them,
    its last steps dropping the ``stream_turns/batch_id=N`` partitions
    the merge read (and ``stream_turns`` once empty). A crash before
    the journal leaves the store untouched: the next call discards the
    stage and repeats the merge with the same doc ids and shard number.
    A crash after it is finished by ``lifecycle.heal``, which every
    mutating call runs first, so the staged convs are then indexed
    exactly once; a batch appended after the crash stays staged for
    the next merge.

    After the merge, a query over the store is rank- and
    score-identical to a batch build over the union of the original
    and streamed transcripts (asserted in tests), because BM25 depends
    only on the global stats and per-doc tf/dl — all refreshed.
    """
    from ..operators.lifecycle import _heal_fold, _stage_fold, commit_swap, read_table, swap_stage

    n_healed = _heal_fold(spark, store, "stream")
    staged_path = store.path("stream_turns")
    # only the batches read here are consumed: a batch appended after
    # this listing waits for the next merge
    batches = sorted(os.listdir(staged_path)) if os.path.isdir(staged_path) else []
    batches = [b for b in batches if b.startswith("batch_id=")]
    if not batches:
        return n_healed
    staged = (
        read_table(spark, staged_path)
        .where(F.col("batch_id").isin([int(b.split("=", 1)[1]) for b in batches]))
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    doc_map = read_table(spark, store.path("doc_map"))
    fresh = staged.join(doc_map.select("conv_id"), "conv_id", "left_anti")
    n_new, steps = _stage_fold(spark, store, fresh, swap_stage(store.root, "stream"))
    drops = [(None, f"stream_turns/{b}", []) for b in batches]
    commit_swap(store.root, "stream", steps + drops)
    return n_healed + n_new


def turns_per_window(
    stream: DataFrame, window: str = "1 minute", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time turns-per-window per role with late-data tolerance.

    The watermark bounds state: turns later than ``watermark`` behind
    the max event time are dropped instead of growing state forever —
    the standard correctness/cost trade for unbounded streams.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            # exact distinct is unsupported on streams (unbounded
            # state); HLL sketch is the standard streaming answer
            F.approx_count_distinct("conv_id").alias("n_convs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
            "n_convs",
        )
    )


def events_per_window(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window rollup per event_type over a generic
    event stream (event_id, ts, user_id, event_type, value, props):
    (window_start epoch-seconds, event_type, n_events, sum_value,
    max_value).

    The SAME plan serves batch and stream: ``withWatermark`` is a
    no-op on batch inputs (Spark ignores it outside streaming), so the
    windowed aggregation is oracle-checkable on the batch table while
    the streaming deployment gets bounded state for free. Windows are
    epoch-aligned tumbling buckets (`F.window` origin 1970-01-01), so
    the DuckDB twin is integer epoch math — no timestamp arithmetic in
    the compare. One hash aggregation, map-side combinable; output is
    |windows × types| rows.
    """
    # watermarks require TIMESTAMP (with zone); parquet event feeds are
    # often TIMESTAMP_NTZ — the cast is value-identical under the
    # session's pinned UTC zone (session.py).
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "max_value",
        )
    )


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time SESSION windows per user over the generic event
    stream — the other half of the streaming-window surface next to
    :func:`events_per_window`'s tumbling buckets: a session is a burst
    of one user's events where each consecutive gap is at most ``gap``
    (boundary INCLUSIVE: Spark extends a session while next.ts <=
    prev.ts + gap — pinned by the boundary test in
    tests/test_round3_surfaces.py); Spark merges windows at (user_id)
    key granularity with ``F.session_window``, whose state the
    watermark bounds on streams.

    The SAME plan serves batch (watermark no-ops), so session
    semantics get a full DuckDB oracle: the twin is the classic
    gaps-and-islands rewrite (island id = running count of
    gap-exceeded steps via LAG, then one group per island) — equality
    of the two formulations is exactly what the hash-check proves.

    Output: (user_id, session_start epoch-s, n_events, value_sum_scaled)
    with session_start = first event's ts. The value sum is
    integer-scaled per EVENT before aggregation (round(value*1e6) as
    BIGINT) so the session total is an exact order-independent
    integer on both engines (lm.py discipline). n_sessions-per-user
    and dwell derive downstream.
    """
    ev = events.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 1e6).cast("long").alias("v_scaled"),
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v_scaled").cast("long").alias("value_sum_scaled"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("session_start"),
            "n_events",
            "value_sum_scaled",
        )
    )


def events_per_sliding_window(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time SLIDING-window rollup — the overlapping-window
    variant of :func:`events_per_window` (Spark
    ``F.window(ts, window, slide)``): each event lands in
    window/slide overlapping buckets, so a dashboard reads a smooth
    trailing aggregate instead of tumbling steps.

    Same batch==stream contract: the watermark is a no-op on batch
    input and bounds state in the streaming deployment. One hash
    aggregation; the input is replicated window/slide times by the
    window Generate (that replication IS the semantics — state and
    shuffle scale by the overlap factor, the knob a 100 TB deployment
    tunes first). Output (window_start, event_type, n_events,
    sum_value, max_value), epoch-aligned slides so the DuckDB twin is
    integer epoch math.
    """
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "max_value",
        )
    )
