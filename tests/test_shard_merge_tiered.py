"""Round-5: plan-driven selective shard merge for the text index
(operators/lifecycle.merge_shards_tiered) — tiered_merge_plan executed
against the store's shard census, rank-identical queries before/after,
journaled replay healing."""

from __future__ import annotations

import os

import pytest

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.operators.lifecycle import (
    IndexStore,
    build_store,
    heal,
    load_block_index,
    merge_shards_tiered,
)
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

CFG = IndexConfig(range_size=8)
QUERY = "spark window merge"


def _shards(spark, store, table="doc_meta"):
    return {
        r["shard"]
        for r in spark.read.parquet(store.path(table))
        .select("shard")
        .distinct()
        .collect()
    }


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_transcripts(spark, n_convs=32, max_turns=8, seed=5)


def test_tiered_shard_merge_rank_identical(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tm_store"))
    store = build_store(spark, corpus, root, CFG, n_shards=8)
    before_shards = _shards(spark, store)
    assert len(before_shards) == 8
    bidx = load_block_index(spark, store)
    before = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx, QUERY, k=10, cfg=CFG).collect()
    ]

    n = merge_shards_tiered(spark, store, merge_factor=4)
    assert n >= 1
    after_shards = _shards(spark, store)
    assert len(after_shards) == 8 - n * 3  # each group folds 4 -> 1
    for table in ("postings", "doc_meta", "blocks"):
        assert _shards(spark, store, table) == after_shards

    bidx2 = load_block_index(spark, store)
    after = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx2, QUERY, k=10, cfg=CFG).collect()
    ]
    assert after == before

    # converges: equal-sized merged shards may tier together again, but
    # repeated calls reach a fixed point
    for _ in range(3):
        if merge_shards_tiered(spark, store, merge_factor=4) == 0:
            break
    assert merge_shards_tiered(spark, store, merge_factor=4) == 0
    bidx3 = load_block_index(spark, store)
    final = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx3, QUERY, k=10, cfg=CFG).collect()
    ]
    assert final == before

    # lineage rows recorded
    mrows = (
        spark.read.parquet(store.path("manifest"))
        .where("build_id = 'tiered-merge'")
        .count()
    )
    assert mrows >= n


def test_heal_completes_interrupted_swap(spark, corpus, tmp_path_factory, monkeypatch):
    """A real merge crashed after its journal, before its first swap
    step: heal must finish the swap and queries must come back
    rank-identical."""
    from solr_ocr_processor_spark.operators import lifecycle

    root = str(tmp_path_factory.mktemp("tm_heal"))
    store = build_store(spark, corpus, root, CFG, n_shards=4)
    bidx = load_block_index(spark, store)
    before = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx, QUERY, k=10, cfg=CFG).collect()
    ]
    stage = store.path("_swap_merge")

    def crash(*args):
        raise RuntimeError("injected crash before the first swap step")

    with monkeypatch.context() as m:
        m.setattr(lifecycle, "_swap_step", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            merge_shards_tiered(spark, store, merge_factor=4)
    assert os.path.exists(os.path.join(stage, "journal.json"))
    assert _shards(spark, store) == {0, 1, 2, 3}
    # journal written, swap never ran. Heal finishes it.
    assert heal(store.root) == 1
    assert _shards(spark, store) == {0}
    bidx2 = load_block_index(spark, store)
    after = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx2, QUERY, k=10, cfg=CFG).collect()
    ]
    assert after == before
    assert not os.path.exists(stage)


def test_cli_merge_subcommand(spark, corpus, tmp_path, capsys):
    """`merge` rides the same CLI dispatch as build/compact: runs the
    tiered plan, reports merged group count, queries stay identical."""
    import importlib.util
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "socr_cli_merge", os.path.join(repo, "jobs", "cli.py")
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)

    from solr_ocr_processor_spark.config import DEFAULT

    src = str(tmp_path / "in")
    root = str(tmp_path / "st")
    corpus.write.parquet(src)
    # the CLI builds (and re-encodes on merge) with its own DEFAULT
    # config — query with the same one
    assert cli.main(["build", "--input", src, "--store", root,
                     "--shards", "8"]) == 0
    store = IndexStore(root, DEFAULT)
    bidx = load_block_index(spark, store)
    before = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx, QUERY, k=10, cfg=DEFAULT).collect()
    ]
    capsys.readouterr()
    assert cli.main(["merge", "--store", root, "--factor", "4"]) == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()
           if ln.startswith("{")]
    assert out and out[-1]["merged_groups"] >= 1
    bidx2 = load_block_index(spark, store)
    after = [
        (r["doc_id"], round(r["score"], 9))
        for r in wand_topk(spark, bidx2, QUERY, k=10, cfg=DEFAULT).collect()
    ]
    assert after == before
