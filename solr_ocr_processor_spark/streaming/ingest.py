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
  the refreshed global avgdl), refresh term_stats/corpus, clear the
  staging table. After the merge, queries see streamed conversations
  with scores identical to a batch build of the union (per-block
  stored avgdl + query-time bound scaling keeps older shards' WAND
  pruning exact under the avgdl drift the merge causes).
- :func:`turns_per_window`      — event-time windowed counts per role
  with a watermark: the standard late-data-tolerant monitoring agg
  over the ingest stream (build-metrics analog of S11).
- :func:`events_per_window`     — the same construct over a generic
  event stream; one plan serves batch (oracle-checkable — watermark is
  a no-op) and streaming (bounded state).
"""

from __future__ import annotations

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


def _merge_manifest_row(
    spark: SparkSession, store, shard: int, status: str, n_convs: int
) -> None:
    """Append one stream-merge lineage row. Stats come from the WRITTEN
    shard tables (cheap parquet aggs, no re-run of the tokenize/encode
    DAG — same rule as build_store)."""
    import time as _time

    from ..operators.lifecycle import MANIFEST_SCHEMA

    meta_row = (
        spark.read.parquet(store.path(f"doc_meta/shard={shard}"))
        .agg(F.sum("n_turns").alias("nt"))
        .first()
    )
    blk_row = (
        spark.read.parquet(store.path(f"blocks/shard={shard}"))
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("n_docs").alias("np"))
        .first()
    )
    row = [("stream-merge", shard, status, n_convs, int(meta_row["nt"] or 0),
            int(blk_row["np"] or 0), int(blk_row["nb"]), 0.0, _time.time())]
    spark.createDataFrame(row, MANIFEST_SCHEMA).write.mode("append").parquet(
        store.path("manifest")
    )


def _finalize_merge(spark: SparkSession, store, shard: int) -> int:
    """Publish a written stream-merge shard: append its doc_map rows
    (anti-joined — idempotent under replay), refresh the global
    term_stats/corpus/corpus_prior, and append the 'done' manifest row.
    Every step is safe to re-run, so a crash anywhere inside is healed
    by calling it again. Returns the number of doc_map rows appended."""
    from ..operators.lifecycle import finalize_store

    shard_map = spark.read.parquet(store.path(f"doc_meta/shard={shard}")).select(
        "doc_id", "conv_id"
    )
    doc_map = spark.read.parquet(store.path("doc_map"))
    missing = shard_map.join(doc_map.select("doc_id"), "doc_id", "left_anti")
    n_appended = missing.count()
    if n_appended:
        missing.write.mode("append").parquet(store.path("doc_map"))
    finalize_store(spark, store)
    spark.read.parquet(store.path("corpus")).write.mode("overwrite").parquet(
        store.path("corpus_prior")
    )
    n_convs = spark.read.parquet(store.path(f"doc_meta/shard={shard}")).count()
    _merge_manifest_row(spark, store, shard, "done", n_convs)
    return n_appended


def _resume_unfinalized(spark: SparkSession, store) -> int:
    """Heal stream-merge shards whose tables were committed (a 'staged'
    manifest row exists) but whose publication never finished (no
    'done' row): re-run the idempotent finalize for each. Returns the
    number of doc_map rows recovered."""
    from ..operators.lifecycle import _exists

    if not _exists(spark, store.path("manifest")):
        return 0
    rows = (
        spark.read.parquet(store.path("manifest"))
        .select("shard", "status")
        .collect()
    )
    staged = {r["shard"] for r in rows if r["status"] == "staged"}
    done = {r["shard"] for r in rows if r["status"] == "done"}
    recovered = 0
    for shard in sorted(staged - done):
        recovered += _finalize_merge(spark, store, shard)
    return recovered


def merge_stream(spark: SparkSession, store) -> int:
    """Fold staged stream_turns into the persisted index store.

    Returns the number of conversations merged (0 = nothing staged),
    including any recovered from a previously crashed merge.

    The fold is an APPEND-ONLY shard build, not a full rebuild:

    0. an interrupted in-place swap (``lifecycle.heal``) and a
       previously crashed merge (shard tables written, publication
       unfinished) are healed first — see crash protocol below;
    1. staged convs already present in doc_map are dropped (re-POST
       idempotency, the reference's GET-before-POST analog);
    2. new convs get doc ids AFTER the existing max (checkpointed ids
       never move — resume/rank identity, SURVEY §4.2-5);
    3. the new shard's tokens/blocks/doc_meta are built by the SAME
       code path as the batch build, with blocks encoded against the
       post-merge global avgdl;
    4. term_stats/corpus are re-finalized over all shards, and
       corpus_prior is refreshed so later appends see current stats.
       Older shards' blocks keep their stored build avgdl — the WAND
       bound scales by max(1, avgdl_now/avgdl_built) at query time, so
       pruning stays exact without re-encoding them;
    5. the staging table is cleared (consumed).

    Crash protocol (commit-ordered like build_store): the shard tables
    are written FIRST (idempotent overwrites keyed by a shard number
    derived from the manifest, which a pre-commit rerun recomputes
    identically), then a 'staged' manifest row is appended — the commit
    point — and only then doc_map appends, globals refresh, the 'done'
    row lands, and staging clears. A crash before the commit point
    reruns the identical build into the same shard; a crash after it is
    detected on the next call (staged-without-done) and healed by the
    idempotent :func:`_finalize_merge` — the doc_map append anti-joins
    existing ids so a replay never duplicates rows, and the staging
    table is only consumed after the convs are visible in doc_map.
    Without this ordering a crash between the doc_map append and
    finalize left term_stats stale AND let a later merge reuse the same
    shard number, overwriting postings whose doc_map entries survived
    (check() said indexed, queries found nothing).

    After the merge, a query over the store is rank- and
    score-identical to a batch build over the union of the original
    and streamed transcripts (asserted in tests), because BM25 depends
    only on the global stats and per-doc tf/dl — all refreshed.
    """
    import shutil

    from ..operators.lifecycle import _exists, heal

    heal(store.root)
    recovered = _resume_unfinalized(spark, store)

    staged_path = store.path("stream_turns")
    if not _exists(spark, staged_path):
        return recovered
    staged = spark.read.parquet(staged_path).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    doc_map = spark.read.parquet(store.path("doc_map"))
    fresh = staged.join(doc_map.select("conv_id"), "conv_id", "left_anti")
    n_new = fold_turns(spark, store, fresh)
    shutil.rmtree(staged_path, ignore_errors=True)
    return recovered + n_new


def fold_turns(spark: SparkSession, store, fresh: DataFrame) -> int:
    """The fold core shared by :func:`merge_stream` (staged stream
    turns) and the batch corpus synchroniser
    (``operators/lifecycle.sync_store``): build the given fresh turns
    into ONE new queryable shard with doc ids after the current max,
    commit-ordered exactly as documented on merge_stream (shard tables
    -> 'staged' manifest row -> idempotent finalize). Returns the
    number of conversations folded (0 = empty input, nothing written).

    The caller owns idempotency/diff policy: merge_stream anti-joins
    staged convs against doc_map (re-POST = no-op); sync_store passes
    added + changed convs (the changed conv's OLD doc ids must already
    be tombstoned — its new rows get fresh ids, and the doc_id-keyed
    anti-join in _finalize_merge appends them cleanly next to the dead
    ones).
    """
    from ..operators.blocks import build_block_index
    from ..operators.build import build_postings
    from ..operators.lifecycle import write_blocks
    from ..plans.materialize import assign_doc_ids, ordered_turns

    doc_map = spark.read.parquet(store.path("doc_map"))
    turns = ordered_turns(fresh)
    n_new = turns.select("conv_id").distinct().count()
    if n_new == 0:
        return 0

    base = doc_map.agg(F.max("doc_id").alias("m")).first()["m"] + 1
    ids0 = assign_doc_ids(turns)
    new_map = ids0.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(int(base))).cast("long")
    )
    new_map.persist()

    idx = build_postings(fresh, store.cfg, doc_map=new_map, n_docs_hint=n_new)
    # Unpersist in a FINALLY: the cached frames are keyed on the
    # staging path, so a crash that leaves them cached poisons a
    # same-session retry — Spark's plan-cache matches the retry's
    # identical logical plan and serves rows whose backing files the
    # retry already replaced (observed as a silently empty re-merge).
    try:
        # shard number: manifest max + 1 over ALL rows (staged
        # included) — stable across pre-commit reruns, never reused
        # after the commit
        shard = 1 + max(
            (r["shard"] for r in spark.read.parquet(store.path("manifest"))
             .select("shard").collect()),
            default=-1,
        )
        idx.postings.write.mode("overwrite").parquet(
            store.path(f"postings/shard={shard}")
        )
        idx.doc_meta.write.mode("overwrite").parquet(
            store.path(f"doc_meta/shard={shard}")
        )
        # post-merge global stats: existing corpus + the new shard's
        old = spark.read.parquet(store.path("corpus")).first()
        add = (
            spark.read.parquet(store.path(f"doc_meta/shard={shard}"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("toks"))
            .first()
        )
        n_docs = int(old["n_docs"]) + int(add["n"])
        avgdl = (int(old["total_tokens"]) + int(add["toks"] or 0)) / n_docs
        bidx = build_block_index(idx, store.cfg, corpus_stats=(n_docs, avgdl))
        write_blocks(bidx.blocks, store.path(f"blocks/shard={shard}"))
        # COMMIT POINT: every shard table is on disk; record it.
        _merge_manifest_row(spark, store, shard, "staged", n_new)
        _finalize_merge(spark, store, shard)
    finally:
        new_map.unpersist()
        ids0.unpersist()
        idx.postings.unpersist()
        idx.mat.unpersist()  # docs + the persisted turns base
    return n_new


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
