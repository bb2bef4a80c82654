"""Streaming exact dedup — a CUSTOM STATEFUL operator.

A training-data ingest stream must not admit a document whose exact
content already arrived — and "already" spans microbatches, so this
cannot be a windowed aggregation: it needs persistent per-key state.
:func:`dedup_doc_stream` is the Structured Streaming shape for that —
``groupBy(text_hash).applyInPandasWithState``:

- **key**: the md5 content hash (same discipline as
  operators/dedup.exact_dup_groups — Spark ``F.md5`` == DuckDB
  ``md5``, so the batch twin is oracle-replayable);
- **state**: one boolean per hash ("seen"), the minimal possible
  state — at 10^10 distinct documents the state store holds one flag
  per distinct hash, partitioned by the shuffle on the key, RocksDB-
  backed on a real cluster;
- **semantics**: FIRST occurrence wins. Within a microbatch the min
  id wins (deterministic under any partitioning — the grouped kernel
  sees ALL of the key's rows in the batch); across microbatches
  arrival order decides, which is the only causal choice a stream can
  make. A single-batch replay (``trigger(availableNow=True)`` over a
  static source) therefore equals the BATCH keep-one
  (exact_dup_groups' min-doc_id canonical) bit-for-bit — that identity
  is the correctness gate.

No timeout is registered: content identity never expires. A pipeline
that wants bounded state (e.g. dedup within a 30-day horizon) sets
``GroupStateTimeout.EventTimeTimeout`` and a watermark — one-line
change, noted here rather than implemented because unbounded identity
is the semantics the batch operators define.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_doc_stream(
    stream: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """First-occurrence-wins exact dedup over a document stream:
    emits one (id, text_hash) row per NEVER-SEEN-BEFORE content hash
    and drops every later duplicate, in this batch or any after it.
    Works on batch DataFrames too? No — state needs a stream; for
    batch use operators/dedup.exact_dup_groups (the semantics agree,
    see module docstring)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    hashed = stream.select(
        F.col(id_col).cast("long").alias("id"),
        F.md5(F.col(text_col).cast("binary")).alias("text_hash"),
    )

    def kernel(key, pdfs, state):
        if state.exists:
            return  # seen in an earlier microbatch: drop everything
        best = None
        for pdf in pdfs:  # iterator of chunks — fold, don't assume one
            if len(pdf):
                m = int(pdf["id"].min())
                best = m if best is None else min(best, m)
        if best is None:
            return
        state.update((True,))
        yield pd.DataFrame({"id": [best], "text_hash": [key[0]]})

    return hashed.groupBy("text_hash").applyInPandasWithState(
        kernel,
        "id long, text_hash string",
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def near_dedup_doc_stream(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    n: int = 3,
    tau: float = 0.3,
    num_bands: int = 32,
    rows_per_band: int = 4,
):
    """Streaming NEAR-duplicate gate (round 4) — the rolling-ingest
    shape of :func:`operators.dedup.incremental_minhash_dedup`: every
    microbatch checks its documents against the PERSISTED corpus of
    previously-admitted documents, flags verified near-dups, and folds
    only the survivors into the store.

    Why ``foreachBatch`` and not ``applyInPandasWithState``: a MinHash
    near-dup decision needs cross-bucket coordination (one doc lands
    in ``num_bands`` band buckets and is a duplicate if ANY bucket
    yields a verified candidate), but stateful-operator state is
    per-key — the per-bucket verdicts of one doc live in different
    state partitions and cannot be joined inside the operator. The
    standard production answer is exactly this: keep the signature /
    document store as an external append-only table (the ann_store /
    merge_stream discipline) and run the batch incremental operator
    per microbatch — at 10^12 docs the store is bucket-partitioned
    parquet/Iceberg and each batch pays O(batch) plus pruned bucket
    probes, never O(corpus).

    Semantics (documented, matching repeated incremental batches):
    a batch's docs are checked against the store as of the batch
    START — near-dups WITHIN one microbatch are not suppressed (the
    batch incremental op has the same contract); a doc flagged dup is
    NOT admitted, so a later copy of it still matches the ORIGINAL.

    Per batch, appends to ``out_dir``: (doc_id, dup_of, jaccard,
    batch_id) for verified pairs; admits survivors into
    ``store_dir``. Returns the DataStreamWriter (caller starts it —
    e.g. ``.trigger(availableNow=True).start()``).

    Exactly-once note (replay-idempotent at ANY crash point): the
    dup-report and the store fold-in are two non-atomic writes per
    batch, and a foreachBatch retry re-runs the whole batch, so each
    write must be a fixed point of replay. Three mechanics make it so:

    - the corpus this batch is checked against is reconstructed as
      store-as-of-batch-start by anti-joining the batch's own doc_ids
      out of the store read (a crashed attempt may have folded them in
      already) — so a replay computes bit-identical dup pairs;
    - each batch overwrites its own ``batch_id=N`` report partition
      (typed and empty when it found no duplicates, so the report
      table exists from the first batch on), so a replay overwrites
      exactly its own partition instead of appending duplicate rows;
    - fold-in appends only survivors NOT already present in the store
      (anti-join on doc_id), so a replay after a completed fold
      appends nothing.

    A defensive ``doc_id != dup_of`` filter additionally drops
    self-pairs should a caller hand the operator a store that already
    contains the batch under different ids-per-content assumptions."""
    from pyspark.sql import functions as SF

    from solr_ocr_processor_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from solr_ocr_processor_spark.operators.lifecycle import read_table

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.select("doc_id", "text").persist()
        try:
            if batch_df.isEmpty():
                return
            import os as _os

            if _os.path.exists(_os.path.join(store_dir, "_SUCCESS")) or (
                _os.path.isdir(store_dir) and _os.listdir(store_dir)
            ):
                full_store = read_table(spark, store_dir)
            else:
                full_store = spark.createDataFrame(
                    [], "doc_id long, text string"
                )
            # store AS OF batch start: a crashed prior attempt of THIS
            # batch may already have folded its survivors in — exclude
            # them so replay recomputes the identical dup pairs.
            corpus = full_store.join(
                SF.broadcast(batch_df.select("doc_id")), "doc_id", "left_anti"
            )
            dups = (
                incremental_minhash_dedup(
                    batch_df,
                    corpus,
                    n=n,
                    tau=tau,
                    num_bands=num_bands,
                    rows_per_band=rows_per_band,
                )
                .where(SF.col("doc_id") != SF.col("dup_of"))
                .persist()
            )
            dups.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
            survivors = batch_df.join(
                dups.select("doc_id").distinct(), "doc_id", "left_anti"
            ).join(  # replay guard: never re-admit an already-stored id
                full_store.select("doc_id"), "doc_id", "left_anti"
            )
            survivors.write.mode("append").parquet(store_dir)
            dups.unpersist()
        finally:
            batch_df.unpersist()

    return stream.writeStream.foreachBatch(_batch).outputMode("update")
