"""Incremental corpus synchronisation (lifecycle.sync_store): the
reference's add/delete item lifecycle (app/handler/indexer.go:46-163)
as ONE batch diff-and-fold — removed convs tombstoned, changed convs
re-folded under fresh doc ids, added convs folded, unchanged convs
untouched; after compaction queries equal a fresh build of the new
corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.operators.lifecycle import (
    IndexStore,
    build_store,
    check,
    check_offline,
    delete_conv,
    load_block_index,
    sync_store,
)
from solr_ocr_processor_spark.operators.score import query_stats
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

CFG = IndexConfig(range_size=8)
QUERY = "spark window merge"


def _mutate(spark, corpus):
    """New corpus: drop conv s000000, rewrite every text of s000001, add
    conv zz9999; everything else byte-identical."""
    kept = corpus.where(F.col("conv_id") != "s000000")
    changed = kept.withColumn(
        "text",
        F.when(
            F.col("conv_id") == "s000001", F.concat(F.col("text"), F.lit(" zebra"))
        ).otherwise(F.col("text")),
    )
    extra = corpus.where(F.col("conv_id") == "s000002").withColumn(
        "conv_id", F.lit("zz999")
    )
    return changed.unionByName(extra)


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_transcripts(spark, n_convs=20, max_turns=6, seed=11)


def test_sync_noop_on_identical_corpus(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sync_noop"))
    store = build_store(spark, corpus, root, CFG, n_shards=2)
    before = spark.read.parquet(store.path("doc_map")).count()
    res = sync_store(spark, store, corpus)
    assert res == {"added": 0, "changed": 0, "removed": 0, "unchanged": 20}
    assert spark.read.parquet(store.path("doc_map")).count() == before


def test_sync_diff_counts_membership_and_rank_identity(
    spark, corpus, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("sync_full"))
    store = build_store(spark, corpus, root, CFG, n_shards=2)
    new_corpus = _mutate(spark, corpus)

    res = sync_store(spark, store, new_corpus, compact_after=True)
    assert res == {"added": 1, "changed": 1, "removed": 1, "unchanged": 18}

    # membership reflects the new corpus (online and offline agree)
    for conv, want in (("s000000", False), ("s000001", True), ("zz999", True),
                       ("s000002", True)):
        assert check(spark, store, conv) is want, conv
        assert check_offline(root, conv) is want, conv

    # after compaction, ranking == fresh build of the new corpus
    bidx = load_block_index(spark, store)
    docs_pd = oracle_materialize(new_corpus.toPandas())
    assert query_stats(bidx, []).n_docs == len(docs_pd)
    got = wand_topk(spark, bidx, QUERY, k=10, cfg=CFG).collect()
    want = oracle_bm25_topk(docs_pd, QUERY, k=10, cfg=CFG)
    got_convs = [r["conv_id"] for r in got]
    want_convs = list(want["conv_id"])
    assert got_convs == want_convs
    assert all(abs(r["score"] - s) < 1e-9 for r, s in zip(got, want["score"]))

    # conv_hashes now fingerprint exactly the new corpus: a second
    # sync with the same input is a no-op
    res2 = sync_store(spark, store, new_corpus)
    assert res2 == {"added": 0, "changed": 0, "removed": 0, "unchanged": 20}


def test_sync_without_compact_suppresses_dead_docs(
    spark, corpus, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("sync_nocompact"))
    store = build_store(spark, corpus, root, CFG, n_shards=2)
    new_corpus = _mutate(spark, corpus)
    res = sync_store(spark, store, new_corpus, compact_after=False)
    assert res["removed"] == 1 and res["changed"] == 1
    # tombstones stay; membership is already correct (doc-level check)
    assert check(spark, store, "s000000") is False
    assert check(spark, store, "s000001") is True
    assert check_offline(root, "s000001") is True
    # the changed conv's doc_map rows: old id tombstoned, new id live
    dm = spark.read.parquet(store.path("doc_map")).where(
        F.col("conv_id") == "s000001"
    )
    assert dm.count() == 2


def test_check_after_delete_then_sync_readd(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sync_readd"))
    store = build_store(spark, corpus, root, CFG, n_shards=2)
    delete_conv(spark, store, "s000003")
    assert check(spark, store, "s000003") is False
    assert check_offline(root, "s000003") is False
    # sync against the ORIGINAL corpus: c0003 is live there but dead
    # here — its stored fingerprint matches, yet it is not live, so
    # the sync must re-add it (it is in new ∖ live-unchanged… via the
    # live set, which excludes tombstoned docs).
    res = sync_store(spark, store, corpus)
    assert res["added"] == 1 and res["removed"] == 0
    assert check(spark, store, "s000003") is True
    assert check_offline(root, "s000003") is True


def test_cli_sync_verb(spark, corpus, tmp_path):
    """CLI surface: sync --input new.parquet --store s (and the
    BadRequest taxonomy for an unreadable input)."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "socr_cli_sync", os.path.join(repo, "jobs", "cli.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    src_old = str(tmp_path / "old_src")
    src_new = str(tmp_path / "new_src")
    store = str(tmp_path / "store")
    corpus.write.parquet(src_old)
    _mutate(spark, corpus).write.parquet(src_new)

    assert cli.main(["build", "--input", src_old, "--store", store,
                     "--shards", "2"]) == 0
    assert cli.main(["sync", "--input", src_new, "--store", store,
                     "--no-compact"]) == 0
    assert cli.main(["check", "--store", store, "--conv-id", "zz999"]) == 0
    rc = cli.main(["check", "--store", store, "--conv-id", "s000000"])
    assert rc == cli.NOT_FOUND_EXIT == 4
    # BadRequest: unreadable input
    rc = cli.main(["sync", "--input", str(tmp_path / "nope"), "--store", store])
    assert rc == cli.BAD_REQUEST_EXIT == 2
