"""Structured Streaming ingest: incremental token append equals the
batch tokenization of the same rows; resume doesn't duplicate;
windowed event-time agg is correct."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from solr_ocr_processor_spark.sources.transcripts import synth_transcripts
from solr_ocr_processor_spark.streaming.ingest import (
    append_to_index,
    stream_transcripts,
    turn_token_stream,
    turns_per_window,
)


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    """Two file-batches of transcripts staged into a stream source dir."""
    root = tmp_path_factory.mktemp("stream")
    src, store, ckpt = str(root / "src"), str(root / "store"), str(root / "ckpt")
    t = synth_transcripts(spark, n_convs=12, max_turns=6, seed=21)
    a = t.where("conv_id < 's000006'")
    b = t.where("conv_id >= 's000006'")
    a.write.mode("overwrite").parquet(src)
    b.write.mode("append").parquet(src)
    return t, src, store, ckpt


def _run_ingest(spark, src, store, ckpt):
    stream = stream_transcripts(spark, src)
    q = append_to_index(turn_token_stream(stream), store, ckpt)
    q.awaitTermination(120)
    return spark.read.parquet(f"{store}/stream_tokens")


def test_stream_tokens_equal_batch(spark, staged):
    t, src, store, ckpt = staged
    got = _run_ingest(spark, src, store, ckpt)
    # batch equivalent over the same rows
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    want = (
        t.where(F.length(F.trim("text")) > 0)
        .select("conv_id", "turn_idx", F.posexplode(toks).alias("p", "term"))
    )
    assert got.count() == want.count()
    g = {tuple(r) for r in got.select("conv_id", "turn_idx", "pos_in_turn", "term").collect()}
    w = {tuple(r) for r in want.select("conv_id", "turn_idx", "p", "term").collect()}
    assert g == w


def test_stream_resume_no_duplicates(spark, staged):
    """Re-running against the same checkpoint ingests nothing new
    (exactly-once per input file)."""
    t, src, store, ckpt = staged
    before = spark.read.parquet(f"{store}/stream_tokens").count()
    got = _run_ingest(spark, src, store, ckpt)  # same checkpoint
    assert got.count() == before


def test_windowed_counts(spark, staged):
    t, src, store, ckpt = staged
    stream = stream_transcripts(spark, src)
    q = (
        turns_per_window(stream, window="1 minute", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT sum(n_turns) AS n FROM winagg"
    ).first()["n"]
    assert got == t.count()  # raw ingest monitoring counts every turn
    # per-window correctness: turn_idx is the minute offset in synth data
    per = spark.sql(
        "SELECT window_start, sum(n_turns) AS n FROM winagg GROUP BY 1 ORDER BY 1"
    ).collect()
    assert len(per) >= 2 and all(r["n"] > 0 for r in per)


def test_merge_stream_fold_in(spark, tmp_path_factory):
    """Streamed conversations become queryable after merge_stream, and
    the merged store ranks/scores EXACTLY like a batch build over the
    union of batch + streamed transcripts."""
    from solr_ocr_processor_spark.config import IndexConfig
    from solr_ocr_processor_spark.operators.lifecycle import (
        IndexStore,
        build_store,
        check,
        load_block_index,
    )
    from solr_ocr_processor_spark.operators.wand import wand_topk
    from solr_ocr_processor_spark.streaming.ingest import (
        append_turns,
        merge_stream,
        stream_transcripts,
    )

    cfg = IndexConfig(range_size=8)
    root = tmp_path_factory.mktemp("fold")
    t = synth_transcripts(spark, n_convs=20, max_turns=8, seed=31)
    batch = t.where("conv_id < 's000014'")
    streamed = t.where("conv_id >= 's000014'")

    store = build_store(spark, batch, str(root / "store"), cfg, n_shards=2)

    src = str(root / "src")
    streamed.write.mode("overwrite").parquet(src)
    q = append_turns(stream_transcripts(spark, src), store.root, str(root / "ckpt"))
    q.awaitTermination(120)

    assert check(spark, store, "s000015") is False  # staged, not merged yet
    n = merge_stream(spark, store)
    assert n == streamed.select("conv_id").distinct().count()
    assert check(spark, store, "s000015") is True

    # re-merge is a no-op (staging consumed, idempotent)
    assert merge_stream(spark, store) == 0

    # rank identity vs a from-scratch batch build of the union:
    # streamed conv_ids sort after batch ones, so doc ids align too
    ref_store = build_store(spark, t, str(root / "ref_store"), cfg, n_shards=2)
    for query in ("spark window merge", "the", "query plan index"):
        got = wand_topk(spark, load_block_index(spark, store), query, k=10, cfg=cfg).collect()
        want = wand_topk(spark, load_block_index(spark, ref_store), query, k=10, cfg=cfg).collect()
        assert [(r["doc_id"], r["conv_id"]) for r in got] == [
            (r["doc_id"], r["conv_id"]) for r in want
        ]
        assert all(abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(got, want))


def test_merge_then_delete_then_compact(spark, tmp_path_factory):
    """Full lifecycle across a streaming merge: fold in streamed convs,
    tombstone one of them, compact — the store must then rank exactly
    like a fresh batch build over (batch + streamed - victim), i.e.
    global stats (df/avgdl/n_docs) fully refresh through the chain."""
    from solr_ocr_processor_spark.config import IndexConfig
    from solr_ocr_processor_spark.operators.lifecycle import (
        build_store,
        check,
        compact,
        delete_conv,
        load_block_index,
    )
    from solr_ocr_processor_spark.operators.wand import wand_topk
    from solr_ocr_processor_spark.streaming.ingest import (
        append_turns,
        merge_stream,
        stream_transcripts,
    )

    cfg = IndexConfig(range_size=8)
    root = tmp_path_factory.mktemp("mdc")
    t = synth_transcripts(spark, n_convs=16, max_turns=7, seed=41)
    batch = t.where("conv_id < 's000011'")
    streamed = t.where("conv_id >= 's000011'")

    store = build_store(spark, batch, str(root / "store"), cfg, n_shards=2)
    src = str(root / "src")
    streamed.write.mode("overwrite").parquet(src)
    append_turns(
        stream_transcripts(spark, src), store.root, str(root / "ckpt")
    ).awaitTermination(120)
    assert merge_stream(spark, store) > 0

    victim = "s000012"  # a STREAMED conv — delete crosses the merge shard
    assert check(spark, store, victim) is True
    delete_conv(spark, store, victim)
    assert check(spark, store, victim) is False
    compact(spark, store)

    ref = build_store(
        spark,
        t.where(f"conv_id <> '{victim}'"),
        str(root / "ref"),
        cfg,
        n_shards=2,
    )
    for query in ("spark window merge", "the"):
        got = wand_topk(spark, load_block_index(spark, store), query, k=8, cfg=cfg).collect()
        want = wand_topk(spark, load_block_index(spark, ref), query, k=8, cfg=cfg).collect()
        # doc ids differ across stores (victim's id is a hole in one,
        # absent in the other) — compare by conv_id + score
        assert [(r["conv_id"], round(r["score"], 9)) for r in got] == [
            (r["conv_id"], round(r["score"], 9)) for r in want
        ]
        assert victim not in {r["conv_id"] for r in got}


def test_compact_then_merge_stream(spark, tmp_path_factory):
    """Regression for two lifecycle-ordering bugs:
    1. compact must keep the shard=K partition layout — flat rewrites
       made a LATER merge_stream produce a mixed flat+partitioned dir
       that Spark's partition discovery rejects;
    2. compact must drop victims from doc_map — otherwise check() flips
       back to True after the tombstones are cleared, and a re-streamed
       deleted conv is silently skipped by the re-POST filter."""
    from solr_ocr_processor_spark.config import IndexConfig
    from solr_ocr_processor_spark.operators.lifecycle import (
        build_store,
        check,
        compact,
        delete_conv,
        load_block_index,
    )
    from solr_ocr_processor_spark.operators.wand import wand_topk
    from solr_ocr_processor_spark.streaming.ingest import (
        append_turns,
        merge_stream,
        stream_transcripts,
    )

    cfg = IndexConfig(range_size=8)
    root = tmp_path_factory.mktemp("ctm")
    t = synth_transcripts(spark, n_convs=14, max_turns=6, seed=47)
    batch = t.where("conv_id < 's000010'")
    streamed = t.where("conv_id >= 's000010'")

    store = build_store(spark, batch, str(root / "store"), cfg, n_shards=2)
    victim = "s000003"
    delete_conv(spark, store, victim)
    compact(spark, store)
    # membership stays deleted AFTER compact clears the tombstones
    assert check(spark, store, victim) is False

    src = str(root / "src")
    streamed.write.mode("overwrite").parquet(src)
    append_turns(
        stream_transcripts(spark, src), store.root, str(root / "ckpt")
    ).awaitTermination(120)
    assert merge_stream(spark, store) > 0  # must not hit a mixed layout
    assert check(spark, store, "s000012") is True

    got = wand_topk(
        spark, load_block_index(spark, store), "spark window merge", k=8, cfg=cfg
    ).collect()
    ref = build_store(
        spark,
        t.where(f"conv_id <> '{victim}'"),
        str(root / "ref"),
        cfg,
        n_shards=2,
    )
    want = wand_topk(
        spark, load_block_index(spark, ref), "spark window merge", k=8, cfg=cfg
    ).collect()
    assert [(r["conv_id"], round(r["score"], 9)) for r in got] == [
        (r["conv_id"], round(r["score"], 9)) for r in want
    ]


def test_merge_stream_crash_resume(spark, tmp_path_factory, monkeypatch):
    """Regression (ADVICE r2, medium): a crash between the commit and
    publication must NOT strand the merge. The merge is one journal; a
    crash right after the journal is written, before any swap step, is
    healed by the next merge_stream call — convs become queryable,
    doc_map gains no duplicates, and a LATER merge takes a fresh shard
    number instead of overwriting."""
    import pytest as _pytest

    from solr_ocr_processor_spark.config import IndexConfig
    from solr_ocr_processor_spark.operators import lifecycle
    from solr_ocr_processor_spark.operators.lifecycle import (
        build_store,
        check,
        load_block_index,
    )
    from solr_ocr_processor_spark.operators.wand import wand_topk
    from solr_ocr_processor_spark.streaming.ingest import (
        append_turns,
        merge_stream,
        stream_transcripts,
    )

    cfg = IndexConfig(range_size=8)
    root = tmp_path_factory.mktemp("crash")
    t = synth_transcripts(spark, n_convs=18, max_turns=6, seed=53)
    batch = t.where("conv_id < 's000010'")
    s1 = t.where("conv_id >= 's000010' and conv_id < 's000014'")
    s2 = t.where("conv_id >= 's000014'")

    store = build_store(spark, batch, str(root / "store"), cfg, n_shards=2)
    src1 = str(root / "src1")
    s1.write.mode("overwrite").parquet(src1)
    append_turns(
        stream_transcripts(spark, src1), store.root, str(root / "ckpt1")
    ).awaitTermination(120)

    real_step = lifecycle._swap_step

    def boom(*a, **k):
        raise RuntimeError("injected crash after commit point")

    monkeypatch.setattr(lifecycle, "_swap_step", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        merge_stream(spark, store)
    monkeypatch.setattr(lifecycle, "_swap_step", real_step)

    # crashed state: journal committed, nothing published
    assert os.path.exists(os.path.join(store.root, "_swap_stream", "journal.json"))
    assert check(spark, store, "s000011") is False
    n1 = s1.select("conv_id").distinct().count()
    assert merge_stream(spark, store) == n1  # heals + consumes staging
    assert check(spark, store, "s000011") is True
    dm = spark.read.parquet(store.path("doc_map"))
    assert dm.count() == batch.select("conv_id").distinct().count() + n1
    assert dm.count() == dm.select("doc_id").distinct().count()
    assert dm.count() == dm.select("conv_id").distinct().count()

    # a LATER merge of different convs must take a NEW shard number —
    # the pre-fix failure overwrote the crashed shard, orphaning its
    # doc_map entries (indexed-but-unqueryable)
    src2 = str(root / "src2")
    s2.write.mode("overwrite").parquet(src2)
    append_turns(
        stream_transcripts(spark, src2), store.root, str(root / "ckpt2")
    ).awaitTermination(120)
    assert merge_stream(spark, store) == s2.select("conv_id").distinct().count()
    assert check(spark, store, "s000011") is True
    assert check(spark, store, "s000016") is True

    # full rank identity vs a batch build of the union
    ref = build_store(spark, t, str(root / "ref"), cfg, n_shards=2)
    got = wand_topk(spark, load_block_index(spark, store), "the", k=10, cfg=cfg).collect()
    want = wand_topk(spark, load_block_index(spark, ref), "the", k=10, cfg=cfg).collect()
    assert [(r["conv_id"], round(r["score"], 9)) for r in got] == [
        (r["conv_id"], round(r["score"], 9)) for r in want
    ]


def test_merge_stream_crash_before_commit(spark, tmp_path_factory, monkeypatch):
    """A crash BEFORE the commit point (the fold staged, no journal)
    must rerun cleanly: the rerun discards the stage, recomputes the
    same doc ids and shard number and publishes them once — no
    duplicates, no orphans."""
    import pytest as _pytest

    from solr_ocr_processor_spark.config import IndexConfig
    from solr_ocr_processor_spark.operators import lifecycle
    from solr_ocr_processor_spark.operators.lifecycle import (
        build_store,
        check,
    )
    from solr_ocr_processor_spark.streaming.ingest import (
        append_turns,
        merge_stream,
        stream_transcripts,
    )

    cfg = IndexConfig(range_size=8)
    root = tmp_path_factory.mktemp("crashpre")
    t = synth_transcripts(spark, n_convs=14, max_turns=6, seed=59)
    batch = t.where("conv_id < 's000009'")
    s1 = t.where("conv_id >= 's000009'")

    store = build_store(spark, batch, str(root / "store"), cfg, n_shards=2)
    src = str(root / "src")
    s1.write.mode("overwrite").parquet(src)
    append_turns(
        stream_transcripts(spark, src), store.root, str(root / "ckpt")
    ).awaitTermination(120)

    real_journal = lifecycle._write_journal

    def boom(*a, **k):
        raise RuntimeError("injected crash before commit point")

    monkeypatch.setattr(lifecycle, "_write_journal", boom)
    with _pytest.raises(RuntimeError, match="injected crash"):
        merge_stream(spark, store)
    monkeypatch.setattr(lifecycle, "_write_journal", real_journal)
    assert check(spark, store, "s000012") is False

    n1 = s1.select("conv_id").distinct().count()
    assert merge_stream(spark, store) == n1
    assert check(spark, store, "s000012") is True
    dm = spark.read.parquet(store.path("doc_map"))
    assert dm.count() == dm.select("doc_id").distinct().count()
    # exactly one merge shard exists beyond the 2 build shards
    import os as _os

    shards = sorted(
        d for d in _os.listdir(store.path("postings")) if d.startswith("shard=")
    )
    assert shards == ["shard=0", "shard=1", "shard=2"]


def test_events_per_window_stream_equals_batch(spark, sf_dir, tmp_path):
    """The generic event rollup: ONE plan, two runtimes — streaming the
    events table file-by-file yields exactly the batch aggregation
    (watermark no-ops in batch; the stream's complete-mode output
    converges to it)."""
    from solr_ocr_processor_spark.streaming.ingest import events_per_window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = sorted(
        tuple(r) for r in events_per_window(events, window="1 hour").collect()
    )

    # the file stream source wants a DIRECTORY of files = micro-batches
    src = str(tmp_path / "events")
    events.where("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    events.where("event_id % 2 = 1").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        events_per_window(stream, window="1 hour")
        .writeStream.format("memory")
        .queryName("evagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM evagg").collect())
    assert got == want and len(got) > 0


def test_dedup_doc_stream_stateful(spark, tmp_path):
    """applyInPandasWithState exact dedup: single-batch replay equals
    the batch keep-one (min doc_id per content hash); across
    microbatches the FIRST batch's winner holds the hash and later
    arrivals — even with smaller ids — are dropped."""
    from solr_ocr_processor_spark.operators.dedup import exact_dup_groups
    from solr_ocr_processor_spark.streaming.dedup import dedup_doc_stream

    schema = "doc_id long, text string"
    rows1 = [(1, "alpha"), (2, "alpha"), (3, "beta")]
    rows2 = [(0, "alpha"), (4, "beta"), (5, "gamma")]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "f1.parquet")
    )

    def run(name, max_files=None):
        reader = spark.readStream.schema(schema)
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        stream = reader.parquet(f"{src}/*")
        q = (
            dedup_doc_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["id"], r["text_hash"])
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    # single batch over f1 == batch keep-one over the same rows
    got1 = run("dd_one")
    batch = exact_dup_groups(spark.createDataFrame(rows1, schema))
    want1 = {
        (r["doc_id"], r["text_hash"])
        for r in batch.where("is_canonical").collect()
    }
    assert got1 == want1 and len(got1) == 2  # alpha->1, beta->3

    # second drop: doc 0 duplicates 'alpha' (already held by doc 1 in
    # the state), doc 4 duplicates 'beta'; only 'gamma' is new
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "f2.parquet")
    )
    got2 = run("dd_two", max_files=1)  # one file per microbatch
    # alpha kept by 1 (not by the later-arriving smaller id 0), beta
    # by 3, gamma by 5 — and the first batch's winners are unchanged
    by_hash = {h: i for i, h in got2}
    assert sorted(by_hash.values()) == [1, 3, 5]
    assert got1 <= got2


def test_sliding_window_overlap_membership(spark):
    """Each event lands in window/slide overlapping buckets; counts
    across buckets sum to overlap * n_events; boundary events with
    sub-second fractions stay in the truncated slide."""
    import datetime

    from solr_ocr_processor_spark.streaming.ingest import (
        events_per_sliding_window,
        events_per_window,
    )

    base = datetime.datetime(2026, 1, 1, 3, 0, 0)
    rows = [
        (1, base, 7, "click", 1.0, None),
        # 0.9s before the next slide edge: must truncate DOWN
        (2, base + datetime.timedelta(minutes=29, seconds=59, milliseconds=900),
         7, "click", 2.0, None),
        (3, base + datetime.timedelta(minutes=45), 7, "click", 4.0, None),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r.window_start: r for r in
           events_per_sliding_window(events, "1 hour", "30 minutes").collect()}
    ep = int(base.timestamp())
    # event 1+2 in [02:30, 03:00] slides; event 3 in [03:00, 03:30]
    assert out[ep - 1800].n_events == 2          # 02:30 window: events 1,2
    assert out[ep].n_events == 3                 # 03:00 window: all
    assert out[ep + 1800].n_events == 1          # 03:30 window: event 3
    # total bucket-rows = overlap factor x events
    assert sum(r.n_events for r in out.values()) == 2 * len(rows)
    # tumbling is the slide==window special case
    tumb = {r.window_start: r.n_events
            for r in events_per_window(events, "1 hour").collect()}
    assert tumb == {ep: 3}
