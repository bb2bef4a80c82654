"""In-plan WAND tombstones: the exclude_docs DataFrame anti-joins into
the scoring plan (score._suppress) — no driver-side id list."""

from __future__ import annotations

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.operators.blocks import build_block_index
from solr_ocr_processor_spark.operators.build import build_postings
from solr_ocr_processor_spark.operators.score import bm25_topk
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

CFG = IndexConfig(range_size=8)
QUERY = "spark window merge"


def _bidx(spark, n_convs=40, seed=5):
    t = synth_transcripts(spark, n_convs=n_convs, max_turns=8, seed=seed)
    return build_block_index(build_postings(t, CFG), CFG)


def test_plan_path_equals_scalar_path_many_tombstones(spark):
    """The in-plan WAND tombstones answer exactly like the exhaustive
    scorer's tombstone anti-join over the same postings."""
    t = synth_transcripts(spark, n_convs=40, max_turns=8, seed=5)
    idx = build_postings(t, CFG)
    bidx = build_block_index(idx, CFG)
    base = wand_topk(spark, bidx, QUERY, k=30, cfg=CFG).collect()
    # tombstone every third doc of the full id space — a "many
    # tombstones between compactions" store
    all_ids = [r["doc_id"] for r in bidx.doc_meta.select("doc_id").collect()]
    dead = [d for d in all_ids if d % 3 == 0]
    assert len(dead) > 8
    dead_df = spark.createDataFrame([(d,) for d in dead], "doc_id long")
    scalar = bm25_topk(spark, idx, QUERY, k=10, cfg=CFG, exclude_docs=dead_df).collect()
    plan = wand_topk(
        spark, bidx, QUERY, k=10, cfg=CFG, exclude_docs=dead_df
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in plan] == [
        (r["doc_id"], r["score"]) for r in scalar
    ]
    assert all(r["doc_id"] % 3 != 0 for r in plan)
    # survivors keep their tombstone-mode scores (corpus stats frozen)
    base_scores = {r["doc_id"]: r["score"] for r in base}
    assert all(base_scores[r["doc_id"]] == r["score"] for r in plan)


def test_plan_path_empty_tombstones_is_identity(spark):
    bidx = _bidx(spark, n_convs=20, seed=9)
    empty = spark.createDataFrame([], "doc_id long")
    a = wand_topk(spark, bidx, QUERY, k=10, cfg=CFG).collect()
    b = wand_topk(spark, bidx, QUERY, k=10, cfg=CFG, exclude_docs=empty).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
