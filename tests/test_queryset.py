"""Rank-identity MATCH RATE over the fixed reference query set
(solr_ocr_processor_spark.queryset) — the BASELINE.json gate.

Every OR query must be rank-identical (doc ids exact; engine paths
bit-identical scores; oracle within 1e-9) across: DataFrame scorer,
block-max WAND scorer, pandas oracle. AND and phrase modes check
against dedicated pandas oracles. The suite asserts a 100% match rate
and prints the per-query table.
"""

from __future__ import annotations

from collections import Counter

import pytest

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.functions.tokenizer import query_terms, tokenize_text
from solr_ocr_processor_spark.operators.blocks import build_block_index
from solr_ocr_processor_spark.operators.build import build_postings
from solr_ocr_processor_spark.operators.query import conjunctive_topk, phrase_match
from solr_ocr_processor_spark.operators.score import bm25_topk
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize
from solr_ocr_processor_spark.queryset import QUERY_SET
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

CFG = IndexConfig(range_size=8)


@pytest.fixture(scope="module")
def corpus(spark):
    t = synth_transcripts(spark, n_convs=50, max_turns=12, seed=29)
    idx = build_postings(t, CFG)
    idx.tokens.persist().count()
    bidx = build_block_index(idx, CFG)
    bidx.blocks.persist().count()
    return idx, bidx, oracle_materialize(t.toPandas())


def _tok_docs(docs_pd, cfg):
    return {
        r.doc_id: [t for _, t, _, _ in tokenize_text(r.doc_text, cfg)]
        for r in docs_pd.itertuples()
    }


@pytest.mark.parametrize("q", [q for q in QUERY_SET if q.mode == "or"],
                         ids=lambda q: q.query_id)
def test_or_queries_rank_identical(spark, corpus, q):
    idx, bidx, docs_pd = corpus
    want = oracle_bm25_topk(docs_pd, q.text, k=q.k, cfg=CFG)
    got_df = bm25_topk(spark, idx, q.text, k=q.k, cfg=CFG).collect()
    got_wand = wand_topk(spark, bidx, q.text, k=q.k, cfg=CFG).collect()
    assert [r["doc_id"] for r in got_df] == list(want["doc_id"])
    assert [r["doc_id"] for r in got_wand] == list(want["doc_id"])
    assert all(
        a["score"] == b["score"] for a, b in zip(got_df, got_wand)
    )  # engine paths bit-identical
    assert all(
        abs(r["score"] - s) < 1e-9 for r, s in zip(got_df, want["score"])
    )


@pytest.mark.parametrize("q", [q for q in QUERY_SET if q.mode == "and"],
                         ids=lambda q: q.query_id)
def test_and_queries(spark, corpus, q):
    idx, _, docs_pd = corpus
    terms = query_terms(q.text, CFG)
    toks = _tok_docs(docs_pd, CFG)
    eligible = {d for d, ts in toks.items() if all(t in ts for t in terms)}
    want = oracle_bm25_topk(docs_pd, q.text, k=len(docs_pd), cfg=CFG)
    want = want[want["doc_id"].isin(eligible)].head(q.k)
    got = conjunctive_topk(spark, idx, q.text, k=q.k, cfg=CFG).collect()
    assert [r["doc_id"] for r in got] == list(want["doc_id"])
    assert all(abs(r["score"] - s) < 1e-9 for r, s in zip(got, want["score"]))


@pytest.mark.parametrize("q", [q for q in QUERY_SET if q.mode == "phrase"],
                         ids=lambda q: q.query_id)
def test_phrase_queries(spark, corpus, q):
    idx, _, docs_pd = corpus
    terms = [t for _, t, _, _ in tokenize_text(q.text, CFG)]
    toks = _tok_docs(docs_pd, CFG)
    want = Counter()
    for d, ts in toks.items():
        for i in range(len(ts) - len(terms) + 1):
            if ts[i : i + len(terms)] == terms:
                want[d] += 1
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_match(spark, idx, q.text, CFG).collect()
    }
    assert got == dict(want)


def test_batch_topk_rank_identical_over_query_set(spark, corpus):
    """The whole reference query set's OR queries answered in ONE
    postings pass must be rank- AND score-identical (exact float
    equality) to the per-query scorer — the north-rule rank-identity
    criterion carried over to the workload-batched path."""
    from solr_ocr_processor_spark.operators.score import bm25_batch_topk

    idx, _, _ = corpus
    or_qs = {q.query_id: q.text for q in QUERY_SET if q.mode == "or"}
    batch = bm25_batch_topk(spark, idx, or_qs, k=10, cfg=CFG).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
    matched = 0
    for qid, text in or_qs.items():
        single = [
            (r.doc_id, r.score)
            for r in bm25_topk(spark, idx, text, k=10, cfg=CFG).collect()
        ]
        assert by_q.get(qid, []) == single, f"batch != single for {qid!r}"
        matched += 1
    assert matched == len(or_qs) and matched >= 5
