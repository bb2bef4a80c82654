"""Property sweep over seeded random corpora (SURVEY §5-3):
structural invariants of the index plus WAND==exhaustive==oracle rank
identity, repeated across seeds so single-corpus luck can't hide a
bug."""

from __future__ import annotations

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.functions.tokenizer import tokenize_text
from solr_ocr_processor_spark.operators.blocks import build_block_index
from solr_ocr_processor_spark.operators.build import build_postings
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

CFG = IndexConfig(range_size=8)
SEEDS = (101, 202, 303)


@pytest.fixture(scope="module", params=SEEDS)
def built(request, spark):
    t = synth_transcripts(
        spark, n_convs=25, max_turns=9, seed=request.param, empty_turn_every=4
    )
    idx = build_postings(t, CFG)
    idx.tokens.persist().count()
    bidx = build_block_index(idx, CFG)
    bidx.blocks.persist().count()
    return idx, bidx, oracle_materialize(t.toPandas())


def test_sum_tf_equals_token_count(built):
    idx, _, docs_pd = built
    total = int(idx.corpus.first()["total_tokens"])
    expect = sum(
        len(tokenize_text(t, CFG)) for t in docs_pd["doc_text"]
    )
    assert total == expect
    assert idx.tokens.count() == expect


def test_every_posting_doc_exists(built):
    idx, bidx, docs_pd = built
    doc_ids = {r["doc_id"] for r in idx.doc_meta.select("doc_id").collect()}
    tok_docs = {r["doc_id"] for r in idx.tokens.select("doc_id").distinct().collect()}
    assert tok_docs <= doc_ids
    assert doc_ids == set(docs_pd["doc_id"])
    # every bound row's range holds a doc of the doc universe
    bound_ranges = {
        r["range_id"] for r in bidx.blocks.select("range_id").distinct().collect()
    }
    assert bound_ranges <= {d // CFG.range_size for d in doc_ids}


def test_df_bounded_by_n_docs(built):
    idx, _, docs_pd = built
    n = len(docs_pd)
    assert idx.term_stats.where(F.col("df") > n).count() == 0
    assert idx.term_stats.where(F.col("cf") < F.col("df")).count() == 0


@pytest.mark.parametrize("query", ["the spark", "window merge join", "café"])
def test_wand_equals_oracle_across_seeds(spark, built, query):
    idx, bidx, docs_pd = built
    want = oracle_bm25_topk(docs_pd, query, k=8, cfg=CFG)
    got = wand_topk(spark, bidx, query, k=8, cfg=CFG).collect()
    assert [r["doc_id"] for r in got] == list(want["doc_id"])
    assert all(abs(r["score"] - s) < 1e-9 for r, s in zip(got, want["score"]))


# ---------------------------------------------------------------------------
# edismax mm= spec grammar
# ---------------------------------------------------------------------------


@given(
    n=st.integers(min_value=1, max_value=50),
    num=st.integers(min_value=0, max_value=120),
    neg=st.booleans(),
    pct=st.booleans(),
)
def test_mm_spec_simple_forms_clamped(n, num, neg, pct):
    from solr_ocr_processor_spark.operators.query import parse_mm_spec

    spec = f"{'-' if neg else ''}{num}{'%' if pct else ''}"
    got = parse_mm_spec(spec, n)
    v = (n * num) // 100 if pct else num
    want = n - v if neg else v
    assert got == min(max(1, want), n)
    assert 1 <= got <= n


@given(
    n=st.integers(min_value=1, max_value=30),
    clauses=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
)
def test_mm_spec_conditionals_order_invariant(n, clauses):
    """Conditional clause order never matters, the greatest threshold
    below n wins, and n at/below every threshold requires all."""
    import random

    from solr_ocr_processor_spark.operators.query import parse_mm_spec

    spec = " ".join(f"{th}<{p}%" for th, p in clauses)
    shuffled = clauses[:]
    random.Random(7).shuffle(shuffled)
    spec2 = " ".join(f"{th}<{p}%" for th, p in shuffled)
    got = parse_mm_spec(spec, n)
    assert got == parse_mm_spec(spec2, n)
    applicable = [c for c in clauses if c[0] < n]
    if not applicable:
        assert got == n
    else:
        th, p = max(applicable)
        assert got == min(max(1, (n * p) // 100), n)
