"""M4 lifecycle: sharded build, membership, tombstone delete,
compaction equivalence (delete(X) ranking == fresh build without X).
Build resume is crash-tested in test_lifecycle_crash.py."""

from __future__ import annotations

import os
import shutil
from dataclasses import replace

import pyarrow.dataset as pads
import pytest

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.operators.lifecycle import (
    IndexStore,
    build_metrics,
    build_store,
    check,
    compact,
    delete_conv,
    load_block_index,
    load_index,
    read_table,
    tombstoned_convs,
)
from solr_ocr_processor_spark.operators.score import bm25_topk, query_stats
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

CFG = IndexConfig(range_size=8)
QUERY = "spark window merge"


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_transcripts(spark, n_convs=30, max_turns=8, seed=3)


def test_sharded_wand_bounds_survive_skewed_shard_avgdl(spark, tmp_path_factory):
    """Regression: shard-local avgdl must not poison block-max bounds.

    Shard 0 holds 1-token docs (shard avgdl 1, global ~20): bounds
    encoded against the shard's own avgdl would under-estimate those
    docs' true scores, and theta from the long-doc shard would prune
    shard 0's ranges even though its docs are the true top-k. The fix
    (global-stats prepass + stored per-block avgdl with ratio-scaled
    bounds) must make the 2-shard store rank-identical to the oracle.
    """
    import datetime

    base = datetime.datetime(2026, 1, 1)
    rows = []
    filler = " ".join(["pad"] * 35)
    for i in range(300):
        rows.append((f"a{i:04d}", 0, "user", "zebra", None, base))
        rows.append(
            (f"b{i:04d}", 0, "user", f"{'zebra ' * 5}{filler}", None, base)
        )
    corpus = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    root = str(tmp_path_factory.mktemp("store_skew"))
    store = build_store(spark, corpus, root, CFG, n_shards=2)
    bidx = load_block_index(spark, store)
    got = wand_topk(spark, bidx, "zebra", k=10, cfg=CFG).collect()
    want = oracle_bm25_topk(
        oracle_materialize(corpus.toPandas()), "zebra", k=10, cfg=CFG
    )
    assert [r["doc_id"] for r in got] == list(want["doc_id"])
    assert all(abs(r["score"] - s) < 1e-9 for r, s in zip(got, want["score"]))
    # sanity: the winners are the short docs (high tfnorm), which live
    # entirely in the under-avgdl shard the old bounds pruned
    assert all(r["conv_id"].startswith("a") for r in got)
    # 75 ranges take the two-phase path: k=0 is an empty top-k there too
    assert wand_topk(spark, bidx, "zebra", k=0, cfg=CFG).collect() == []
    # ...and tombstones anti-join before θ: with the top-3 docs dead the
    # seed+prune result equals the exhaustive scorer's, bit for bit
    dead = spark.createDataFrame([(r["doc_id"],) for r in got[:3]], "doc_id long")
    pruned = wand_topk(spark, bidx, "zebra", k=10, cfg=CFG, exclude_docs=dead)
    exhaustive = bm25_topk(
        spark, load_index(spark, store), "zebra", k=10, cfg=CFG, exclude_docs=dead
    )
    pairs = [(r["doc_id"], r["score"]) for r in pruned.collect()]
    assert pairs == [(r["doc_id"], r["score"]) for r in exhaustive.collect()]
    assert len(pairs) == 10 and not {d for d, _ in pairs} & {r["doc_id"] for r in got[:3]}


@pytest.fixture(scope="module")
def store(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store_main"))
    return build_store(spark, corpus, root, CFG, n_shards=2)


def test_membership_check(spark, store, corpus):
    some_conv = corpus.select("conv_id").first()["conv_id"]
    assert check(spark, store, some_conv) is True
    assert check(spark, store, "does-not-exist") is False


def test_delete_then_query_excludes(spark, store, corpus):
    docs_pd = oracle_materialize(corpus.toPandas())
    bidx = load_block_index(spark, store)
    before = wand_topk(spark, bidx, QUERY, k=5, cfg=CFG).collect()
    victim = before[0]["conv_id"]

    delete_conv(spark, store, victim)
    assert check(spark, store, victim) is False
    dead = tombstoned_convs(spark, store)
    assert before[0]["doc_id"] in _dead_ids(spark, store)

    after = wand_topk(
        spark, bidx, QUERY, k=5, cfg=CFG, exclude_docs=dead
    ).collect()
    assert victim not in {r["conv_id"] for r in after}
    # tombstone mode keeps corpus stats: scores of survivors unchanged
    before_rest = [(r["doc_id"], r["score"]) for r in before if r["conv_id"] != victim]
    assert [(r["doc_id"], r["score"]) for r in after[: len(before_rest)]] == before_rest

    # compaction: physical removal; ranking == fresh build without victim
    compact(spark, store)
    assert not _dead_ids(spark, store)
    bidx2 = load_block_index(spark, store)
    assert query_stats(bidx2, []).n_docs == len(docs_pd) - 1
    got = wand_topk(spark, bidx2, QUERY, k=5, cfg=CFG).collect()
    fresh_pd = oracle_materialize(
        corpus.where(f"conv_id != '{victim}'").toPandas()
    )
    # doc ids shift on fresh build; compare by conv_id + score
    want = oracle_bm25_topk(fresh_pd, QUERY, k=5, cfg=CFG)
    assert [r["conv_id"] for r in got] == list(want["conv_id"])
    assert all(abs(r["score"] - s) < 1e-9 for r, s in zip(got, want["score"]))


def _dead_ids(spark, store):
    return sorted(r["doc_id"] for r in tombstoned_convs(spark, store).collect())


def _deleted_copy(spark, store, tmp_path):
    """A copy of ``store`` with one conversation deleted twice; returns
    the copy and that conversation's doc ids."""
    root = shutil.copytree(store.root, str(tmp_path / "copy"))
    doc_map = pads.dataset(os.path.join(root, "doc_map")).to_table().to_pylist()
    conv = doc_map[0]["conv_id"]
    copy = IndexStore(root, CFG)
    for _ in range(2):
        delete_conv(spark, copy, conv)
    return copy, sorted(r["doc_id"] for r in doc_map if r["conv_id"] == conv)


def test_delete_conv_twice_tombstones_each_doc_once(spark, store, tmp_path):
    copy, doc_ids = _deleted_copy(spark, store, tmp_path)
    assert _dead_ids(spark, copy) == doc_ids


def test_tombstoned_convs_opens_without_a_job(spark, store, tmp_path):
    """Opening a store with tombstones — the tombstone table, the
    postings-level Index and the BlockIndex — runs no Spark job."""
    copy, doc_ids = _deleted_copy(spark, store, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("open-store", "open-store")
    try:
        dead = tombstoned_convs(spark, copy)
        idx = load_index(spark, copy)
        bidx = load_block_index(spark, copy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("open-store")) == []
    assert sorted(r["doc_id"] for r in dead.collect()) == doc_ids
    assert query_stats(idx, []) == query_stats(bidx, [])
    assert "shard" in idx.postings.columns and "shard" in bidx.blocks.columns


def test_read_table_schema_equals_inference(spark, store, tmp_path):
    """For every table of a store with tombstones, the footer schema
    read_table opens with equals the one Spark infers."""
    copy, _ = _deleted_copy(spark, store, tmp_path)
    tables = sorted(n for n in os.listdir(copy.root) if not n.startswith(("_", ".")))
    assert {"doc_map", "postings", "blocks", "doc_meta", "tombstones"} <= set(tables)
    for name in tables:
        path = copy.path(name)
        assert read_table(spark, path).schema == spark.read.parquet(path).schema, name


def test_tz_naive_ts_fingerprints_like_utc_timestamps(spark, tmp_path_factory):
    """A tz-naive pandas ``ts`` reads back as TIMESTAMP_NTZ; build_store
    and sync_store over it must write the same conv_hashes as the same
    rows with UTC TIMESTAMPs."""
    import pandas as pd
    from pyspark.sql import types as T

    from solr_ocr_processor_spark.operators.lifecycle import sync_store

    tmp = tmp_path_factory.mktemp("tz_naive")
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c2", "c3"],
            "turn_idx": [0, 1, 0, 0],
            "role": ["user", "assistant", "user", "user"],
            "text": ["spark window", "merge spark", "window merge", "zebra"],
            "tool": [None, "search", None, None],
            "ts": pd.to_datetime(
                ["2026-01-01 10:00", "2026-01-01 10:01", "2026-02-03 04:05", "2026-03-01 00:00"]
            ),
        }
    ).astype({"turn_idx": "int32"})
    frames = {
        "naive": pdf,
        "utc": pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC")),
    }
    hashes, dfs = {}, {}
    for name, frame in frames.items():
        path = str(tmp / f"{name}.parquet")
        frame.to_parquet(path, coerce_timestamps="us")
        df = dfs[name] = spark.read.parquet(path)
        want_type = T.TimestampNTZType if name == "naive" else T.TimestampType
        assert isinstance(df.schema["ts"].dataType, want_type)
        store = build_store(spark, df, str(tmp / f"store_{name}"), CFG, n_shards=1)
        meta = store.path("doc_meta")
        assert isinstance(read_table(spark, meta).schema["last_ts"].dataType, want_type)
        assert read_table(spark, meta).schema == spark.read.parquet(meta).schema
        res = sync_store(spark, store, df.where("conv_id != 'c3'"))
        assert res == {"added": 0, "changed": 0, "removed": 1, "unchanged": 2}
        hashes[name] = sorted(
            tuple(r) for r in spark.read.parquet(store.path("conv_hashes")).collect()
        )
    assert hashes["naive"] == hashes["utc"]
    assert [h[0] for h in hashes["utc"]] == ["c1", "c2"]

    # an inline-text ("full") store of the naive frame: doc_text and the
    # TIMESTAMP_NTZ last_ts read back with the inferred schema
    full = build_store(
        spark, dfs["naive"], str(tmp / "store_full"), replace(CFG, index_type="full"), n_shards=1
    )
    meta = full.path("doc_meta")
    assert "doc_text" in read_table(spark, meta).columns
    assert isinstance(read_table(spark, meta).schema["last_ts"].dataType, T.TimestampNTZType)
    assert read_table(spark, meta).schema == spark.read.parquet(meta).schema


def test_empty_store_after_compact_loads_and_syncs_back(spark, tmp_path_factory):
    """Removing every conversation leaves an empty store whose corpus row
    is (0, 0, 0.0), not NULLs: it loads, WAND and bm25_topk return typed
    empty frames, and a later sync back to the corpus answers exactly
    like a fresh build. Reached both ways: a sync to an empty corpus
    (compact_after), and delete_convs of everything + compact."""
    from solr_ocr_processor_spark.operators.lifecycle import delete_convs, sync_store

    small = synth_transcripts(spark, n_convs=6, max_turns=5, seed=13)
    tmp = tmp_path_factory.mktemp("empty_store")
    store = build_store(spark, small, str(tmp / "store"), CFG, n_shards=2)
    fresh = build_store(spark, small, str(tmp / "fresh"), CFG, n_shards=2)

    def results(st):
        bidx, idx = load_block_index(spark, st), load_index(spark, st)
        return [
            [(r["doc_id"], r["conv_id"], r["score"]) for r in df.collect()]
            for df in (
                wand_topk(spark, bidx, QUERY, k=5, cfg=CFG),
                bm25_topk(spark, idx, QUERY, k=5, cfg=CFG),
            )
        ]

    def assert_empty(st):
        crow = spark.read.parquet(st.path("corpus")).first()
        assert (crow["n_docs"], crow["total_tokens"], crow["avgdl"]) == (0, 0, 0.0)
        bidx, idx = load_block_index(spark, st), load_index(spark, st)
        for df in (
            wand_topk(spark, bidx, QUERY, k=5, cfg=CFG),
            bm25_topk(spark, idx, QUERY, k=5, cfg=CFG),
        ):
            assert {"doc_id", "conv_id", "score"} <= set(df.columns)
            assert df.collect() == []

    want = results(fresh)
    assert sync_store(spark, store, small.limit(0)) == {
        "added": 0, "changed": 0, "removed": 6, "unchanged": 0,
    }
    assert_empty(store)
    assert sync_store(spark, store, small) == {
        "added": 6, "changed": 0, "removed": 0, "unchanged": 0,
    }
    assert results(store) == want

    delete_convs(spark, store, small.select("conv_id"))
    compact(spark, store)
    assert_empty(store)
