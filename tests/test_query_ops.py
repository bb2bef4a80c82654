"""Q4 query language: conjunctive AND + positional phrase semantics."""

from __future__ import annotations

import datetime

import pytest

from solr_ocr_processor_spark.operators.build import build_postings
from solr_ocr_processor_spark.operators.query import (
    conjunctive_topk,
    phrase_match,
    phrase_topk,
)
from solr_ocr_processor_spark.sources.transcripts import TRANSCRIPT_SCHEMA

TS = datetime.datetime(2026, 1, 1)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        # phrase "big data" twice in c0 (once spanning turns), once in c1,
        # reversed in c2, absent in c3
        ("c0", 0, "user", "big data is big", None, TS),
        ("c0", 1, "assistant", "data big data pipelines", None, TS),
        ("c1", 0, "user", "we love big data here", None, TS),
        ("c2", 0, "user", "data big only reversed", None, TS),
        ("c3", 0, "user", "nothing relevant at all", None, TS),
    ]
    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    idx = build_postings(t)
    idx.tokens.persist().count()
    return idx


def test_phrase_match_counts(spark, tiny):
    got = {
        r["conv_id"]: r["phrase_tf"]
        for r in phrase_match(spark, tiny, "big data").collect()
    }
    # c0 doc_text = "big data is big data big data pipelines":
    # anchors at 0, 4("big data" after is->...), check: tokens
    # [big,data,is,big,data,big,data,pipelines] -> anchors 0,3,5
    assert got == {"c0": 3, "c1": 1}


def test_phrase_cross_turn_match(spark, tiny):
    """Turns join with ' ' so a phrase can span a turn boundary —
    c0 turn0 ends 'big' and turn1 starts 'data' => anchor at pos 3."""
    got = phrase_match(spark, tiny, "big data").where("conv_id='c0'").collect()
    assert got[0]["phrase_tf"] == 3


def test_phrase_absent(spark, tiny):
    assert phrase_match(spark, tiny, "data nothing").count() == 0
    assert phrase_topk(spark, tiny, "zzz unseen").count() == 0


def test_conjunctive_requires_all_terms(spark, tiny):
    got = {r["conv_id"] for r in conjunctive_topk(spark, tiny, "big data pipelines").collect()}
    assert got == {"c0"}
    got2 = {r["conv_id"] for r in conjunctive_topk(spark, tiny, "big data").collect()}
    assert got2 == {"c0", "c1", "c2"}


def test_phrase_topk_ranks_by_tfnorm(spark, tiny):
    top = phrase_topk(spark, tiny, "big data", k=5).collect()
    assert [r["conv_id"] for r in top][0] == "c0"  # 3 occurrences wins
    assert len(top) == 2
    assert top[0]["score"] > top[1]["score"] > 0


def test_pf_boost_is_bm25_plus_phrase_score_bit_for_bit(spark, tiny):
    """pf_topk(pf_weight=1) adds the phrase clause score to the
    disjunctive BM25 score, so for every phrase-matching doc it equals
    bm25_topk + phrase_topk exactly. c1 (tf 1, dl 5) is a doc where
    (Σidf·num)/denom and Σidf·(num/denom) round differently; only the
    latter is the shared clause-score contract."""
    from solr_ocr_processor_spark.operators.query import pf_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    q = "big data"
    base = {r["conv_id"]: r["score"] for r in bm25_topk(spark, tiny, q).collect()}
    phrase = {r["conv_id"]: r["score"] for r in phrase_topk(spark, tiny, q).collect()}
    pf = {r["conv_id"]: r["score"] for r in pf_topk(spark, tiny, q).collect()}
    assert set(phrase) == {"c0", "c1"}
    for c, p in phrase.items():
        assert pf[c].hex() == (base[c] + p).hex(), c
    assert pf["c2"] == base["c2"]


# --- sloppy phrase (proximity) ----------------------------------------------


def test_proximity_slop_ladder_two_terms(spark, tiny):
    """c0 doc tokens [big,data,is,big,data,big,data,pipelines]:
    'big pipelines' greedy chains 0->7 (slack 6), 3->7 (slack 3),
    5->7 (slack 1); anchors admitted as slop rises."""
    from solr_ocr_processor_spark.operators.query import _proximity_counts

    def tf_at(slop):
        rows = _proximity_counts(tiny, ["big", "pipelines"], slop).collect()
        return {r["doc_id"]: r["prox_tf"] for r in rows}

    assert tf_at(0) == {}
    assert list(tf_at(1).values()) == [1]
    assert list(tf_at(3).values()) == [2]
    assert list(tf_at(6).values()) == [3]


def test_proximity_slop0_equals_exact_phrase(spark, tiny):
    from solr_ocr_processor_spark.operators.query import (
        _phrase_counts,
        _proximity_counts,
    )

    exact = {
        (r["doc_id"], r["phrase_tf"])
        for r in _phrase_counts(tiny, ["big", "data"]).collect()
    }
    prox = {
        (r["doc_id"], r["prox_tf"])
        for r in _proximity_counts(tiny, ["big", "data"], 0).collect()
    }
    assert exact == prox


def test_proximity_three_term_chain(spark, tiny):
    """'big data pipelines' on c0: chains (0,1,7) slack 5, (3,4,7)
    slack 2, (5,6,7) slack 0."""
    from solr_ocr_processor_spark.operators.query import _proximity_counts

    def tf_at(slop):
        rows = _proximity_counts(
            tiny, ["big", "data", "pipelines"], slop
        ).collect()
        return sum(r["prox_tf"] for r in rows)

    assert tf_at(0) == 1
    assert tf_at(2) == 2
    assert tf_at(5) == 3


def test_proximity_greedy_equals_bruteforce(spark):
    """Greedy chaining == any-chain existence, on a seeded random
    corpus vs a brute-force itertools reference."""
    import itertools
    import random

    from solr_ocr_processor_spark.operators.query import _proximity_counts

    rng = random.Random(7)
    vocab = ["a", "b", "c", "x"]
    convs = []
    texts = []
    for ci in range(12):
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(3, 20))]
        texts.append(toks)
        convs.append((f"c{ci:02d}", 0, "user", " ".join(toks), None, TS))
    t = spark.createDataFrame(convs, TRANSCRIPT_SCHEMA)
    idx = build_postings(t)

    def brute(toks, terms, slop):
        pos = {t_: [i for i, w in enumerate(toks) if w == t_] for t_ in set(terms)}
        if any(not pos[t_] for t_ in terms):
            return 0
        n = 0
        for p0 in pos[terms[0]]:
            found = False
            for chain in itertools.product(*[pos[t_] for t_ in terms[1:]]):
                seq = [p0, *chain]
                if all(b > a for a, b in zip(seq, seq[1:])) and (
                    seq[-1] - seq[0] - (len(terms) - 1) <= slop
                ):
                    found = True
                    break
            if found:
                n += 1
        return n

    for terms, slop in [(["a", "b"], 0), (["a", "b"], 2), (["a", "b", "c"], 3)]:
        got = {
            r["doc_id"]: r["prox_tf"]
            for r in _proximity_counts(idx, terms, slop).collect()
        }
        # doc ids are dense by sorted conv_id == input order here
        want = {
            i: brute(toks, terms, slop)
            for i, toks in enumerate(texts)
            if brute(toks, terms, slop) > 0
        }
        assert got == want, (terms, slop)


def test_proximity_topk_scores_and_ties(spark, tiny):
    from solr_ocr_processor_spark.operators.query import proximity_topk

    top = proximity_topk(spark, tiny, "big pipelines", slop=6, k=5).collect()
    assert len(top) == 1 and top[0]["conv_id"] == "c0"
    assert top[0]["score"] > 0
    # unseen term short-circuits to empty
    assert proximity_topk(spark, tiny, "big zzzz", slop=4).count() == 0


# --- rerank (Solr rq={!rerank}) ---------------------------------------------


def test_rerank_weight_zero_preserves_bm25(spark, tiny):
    from solr_ocr_processor_spark.operators.query import rerank_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    base = bm25_topk(spark, tiny, "data big", k=4).collect()
    rr = rerank_topk(
        spark, tiny, "data big", "big data", slop=0, window=4, weight=0.0, k=4
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in rr] == [
        (r["doc_id"], r["score"]) for r in base
    ]


def test_rerank_boosts_phrase_docs(spark, tiny):
    from solr_ocr_processor_spark.operators.query import rerank_topk

    # main query "data" matches c0, c1, c2; "big data" occurs only in
    # c0 and c1 — a large weight must lift both above c2
    rr = rerank_topk(
        spark, tiny, "data", "big data", slop=0, window=3, weight=100.0, k=3
    ).collect()
    assert {r["conv_id"] for r in rr[:2]} == {"c0", "c1"}
    assert rr[2]["conv_id"] == "c2"


def test_rerank_absent_rerank_term_is_noop(spark, tiny):
    from solr_ocr_processor_spark.operators.query import rerank_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    base = bm25_topk(spark, tiny, "data", k=3).collect()
    rr = rerank_topk(
        spark, tiny, "data", "zzz unseen", window=3, weight=9.0, k=3
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in rr] == [
        (r["doc_id"], r["score"]) for r in base
    ]


def test_rerank_window_and_validation(spark, tiny):
    from solr_ocr_processor_spark.operators.query import rerank_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    with pytest.raises(ValueError):
        rerank_topk(spark, tiny, "data", "big data", weight=-1.0)
    with pytest.raises(ValueError):
        rerank_topk(spark, tiny, "data", "big data", window=5, k=6)
    # window=1: only the bm25 winner is eligible, boost or not
    one = rerank_topk(
        spark, tiny, "data", "big data", window=1, weight=100.0, k=1
    ).collect()
    base = bm25_topk(spark, tiny, "data", k=1).collect()
    assert one[0]["doc_id"] == base[0]["doc_id"]


# --- nested boolean grammar ------------------------------------------------


def test_boolean_parse_shapes():
    from solr_ocr_processor_spark.operators.boolean import (
        And,
        BooleanSyntaxError,
        Not,
        Or,
        Term,
        parse_boolean,
    )

    assert parse_boolean("big") == Term("big")
    # AND binds tighter than OR (Lucene precedence)
    assert parse_boolean("a AND b OR c") == Or(
        (And((Term("a"), Term("b"))), Term("c"))
    )
    # binary NOT sugar: x NOT y == x AND NOT y
    assert parse_boolean("a NOT b") == And((Term("a"), Not(Term("b"))))
    assert parse_boolean("a AND (b OR c) NOT d") == And(
        (Term("a"), Or((Term("b"), Term("c"))), Not(Term("d")))
    )
    # an atom the analyzer splits becomes the AND of its tokens
    assert parse_boolean("big-data") == And((Term("big"), Term("data")))

    for bad in ("NOT big", "big OR NOT data", "NOT (a AND b)",
                "a AND (b OR", "a )", "a AND", "AND a", ""):
        with pytest.raises(BooleanSyntaxError):
            parse_boolean(bad)


def test_boolean_topk_semantics(spark, tiny):
    from solr_ocr_processor_spark.operators.boolean import boolean_topk

    def convs(q):
        return {r["conv_id"] for r in boolean_topk(spark, tiny, q).collect()}

    assert convs("big AND (pipelines OR here) NOT reversed") == {"c0", "c1"}
    assert convs("big NOT data") == set()  # every big doc also has data
    assert convs("(love OR only) AND data") == {"c1", "c2"}
    assert convs("big AND pipelines OR love") == {"c0", "c1"}
    # nested NOT under parens with a positive sibling
    assert convs("data AND NOT (pipelines OR here)") == {"c2"}


def test_boolean_scores_match_flat_not(spark, tiny):
    """For the flat shape `pos NOT neg` the nested-grammar scorer must
    produce bit-identical scores to boolean_not_topk (same BM25 sum
    over positives, same sorted-term fold)."""
    from solr_ocr_processor_spark.operators.boolean import boolean_topk
    from solr_ocr_processor_spark.operators.query import boolean_not_topk

    got = [
        (r["conv_id"], r["score"])
        for r in boolean_topk(spark, tiny, "big NOT reversed").collect()
    ]
    want = [
        (r["conv_id"], r["score"])
        for r in boolean_not_topk(spark, tiny, "big", "reversed").collect()
    ]
    assert got == want and got


def test_phrase_block_range_prune_parity(spark, tiny):
    """The block-range prune (bidx given) must be result-invariant:
    it only drops ranges where some phrase term has NO block, which
    cannot hold any matching doc. Same rows with and without the
    prune, including an unseen-term phrase (empty candidate set)."""
    from solr_ocr_processor_spark.operators.blocks import build_block_index

    bidx = build_block_index(tiny)

    def rows(df):
        return sorted((r.doc_id, r.conv_id, r.phrase_tf) for r in df.collect())

    assert rows(phrase_match(spark, tiny, "big data", bidx=bidx)) == rows(
        phrase_match(spark, tiny, "big data")
    )
    assert phrase_match(spark, tiny, "data nothing", bidx=bidx).count() == 0
    assert phrase_topk(spark, tiny, "zzz unseen", bidx=bidx).count() == 0

    top_p = [
        (r.doc_id, round(r.score, 9))
        for r in phrase_topk(spark, tiny, "big data", k=5, bidx=bidx).collect()
    ]
    top_n = [
        (r.doc_id, round(r.score, 9))
        for r in phrase_topk(spark, tiny, "big data", k=5).collect()
    ]
    assert top_p == top_n


def test_phrase_highlights_spans_and_cross_turn_clip(spark, tiny):
    """One span per phrase occurrence, first term's start to last
    term's end; an occurrence crossing a turn boundary is clipped into
    a row per overlapped turn. Hand-computed on the tiny fixture:
    c0 doc text = 'big data is big data big data pipelines', turns
    [0,15) / [16,40) — the 2nd occurrence spans 12..20."""
    from solr_ocr_processor_spark.operators.score import phrase_highlights

    rows = sorted(
        (r.conv_id, r.turn_idx, r.start_in_turn, r.end_in_turn)
        for r in phrase_highlights(spark, tiny, "big data", k=5).collect()
    )
    assert rows == [
        ("c0", 0, 0, 8),     # 'big data' at doc start
        ("c0", 0, 12, 15),   # boundary occurrence: 'big' tail of turn 0
        ("c0", 1, 0, 4),     # ...'data' head of turn 1
        ("c0", 1, 5, 13),    # 'big data' inside turn 1
        ("c1", 0, 8, 16),    # 'big data' in c1
    ]
    # absent phrase / unseen term: empty, stable schema
    assert phrase_highlights(spark, tiny, "data nothing", k=5).count() == 0


def test_phrase_snippets_render_cross_turn(spark, tiny):
    """Each phrase occurrence renders as ONE <em> region (inner space
    included); a boundary-spanning occurrence renders its in-turn
    portion in each turn."""
    from solr_ocr_processor_spark.operators.score import phrase_snippets

    got = {
        (r.conv_id, r.turn_idx): r.snippet
        for r in phrase_snippets(spark, tiny, "big data", k=5).collect()
    }
    assert got[("c0", 0)] == "<em>big data</em> is <em>big</em>"
    assert got[("c0", 1)] == "<em>data</em> <em>big data</em> pipelines"
    assert got[("c1", 0)] == "we love <em>big data</em> here"
    assert ("c2", 0) not in got and ("c3", 0) not in got


# --- rewrite queries (prefix / fuzzy expansion) + facets -------------------
#
# tiny vocabulary and dfs: big(3) data(3), everything else df=1
# (is, pipelines, we, love, here, only, reversed, nothing, relevant,
# at, all). Doc lengths: c0=8, c1=5, c2=4, c3=4 tokens.


def test_expand_prefix_order_and_cap(spark, tiny):
    from solr_ocr_processor_spark.operators.expand import expand_prefix

    # df tie (both 1) breaks term ASC — deterministic total order
    assert expand_prefix(spark, tiny, "re*") == ["relevant", "reversed"]
    assert expand_prefix(spark, tiny, "re", max_expansions=1) == ["relevant"]
    # bare '*' (empty prefix) is rejected, as is a non-term pattern
    assert expand_prefix(spark, tiny, "*") == []
    assert expand_prefix(spark, tiny, "  ") == []


def test_expand_fuzzy_edits_and_identity(spark, tiny):
    from solr_ocr_processor_spark.operators.expand import expand_fuzzy

    assert expand_fuzzy(spark, tiny, "bog", max_edits=1) == ["big"]
    # exact dictionary term is distance 0 — always included
    assert expand_fuzzy(spark, tiny, "data", max_edits=1) == ["data"]
    # df DESC orders the expansion: big(3) before at/is (1) for 'bit'~2
    got = expand_fuzzy(spark, tiny, "bit", max_edits=2)
    assert got[0] == "big" and set(got[1:]) <= {"at", "is", "it"}


def test_prefix_topk_disjunctive(spark, tiny):
    from solr_ocr_processor_spark.operators.expand import prefix_topk

    rows = prefix_topk(spark, tiny, "re*", k=10).collect()
    # relevant -> c3, reversed -> c2; disjunctive OR reaches both
    assert {r.conv_id for r in rows} == {"c2", "c3"}
    assert all(r.score > 0 for r in rows)


def test_fuzzy_topk_routes_through_expansion(spark, tiny):
    from solr_ocr_processor_spark.operators.expand import fuzzy_topk

    rows = fuzzy_topk(spark, tiny, "pipeline", k=10, max_edits=1).collect()
    assert [r.conv_id for r in rows] == ["c0"]
    # no expansion -> empty result with the stable contract schema
    empty = fuzzy_topk(spark, tiny, "qqqqqqq", k=10, max_edits=1)
    assert empty.count() == 0
    assert empty.columns == ["doc_id", "conv_id", "score"]


def test_bm25_terms_duplicate_collapse(spark, tiny):
    """A duplicated expansion term must score once, not twice."""
    from solr_ocr_processor_spark.operators.score import bm25_scores_terms

    once = {
        r.doc_id: r.score
        for r in bm25_scores_terms(spark, tiny, ["big"]).collect()
    }
    twice = {
        r.doc_id: r.score
        for r in bm25_scores_terms(spark, tiny, ["big", "big"]).collect()
    }
    assert once == twice and once


def test_facet_counts_histogram(spark, tiny):
    from solr_ocr_processor_spark.operators.facet import facet_counts

    rows = facet_counts(spark, tiny, "big data", width=4).collect()
    # matched docs: c0(dl=8 -> bucket 2), c1(5 -> 1), c2(4 -> 1)
    assert [(r.bucket, r.n_docs) for r in rows] == [(1, 2), (2, 1)]
    # a multi-term match counts each doc ONCE (c0..c2 all have both terms)
    assert sum(r.n_docs for r in rows) == 3


def test_facet_counts_no_match(spark, tiny):
    from solr_ocr_processor_spark.operators.facet import facet_counts

    got = facet_counts(spark, tiny, "zzzz", width=4)
    assert got.count() == 0 and got.columns == ["bucket", "n_docs"]


def test_expand_prefix_rejects_non_trailing_wildcards(spark, tiny):
    """Review regression: '*abc' / 's*r' are not prefix queries — the
    analyzer must not silently eat the '*' and run the wrong query."""
    from solr_ocr_processor_spark.operators.expand import (
        expand_prefix,
        is_valid_prefix_pattern,
    )

    assert expand_prefix(spark, tiny, "*re") == []
    assert expand_prefix(spark, tiny, "r*e") == []
    assert is_valid_prefix_pattern("re*") and is_valid_prefix_pattern("re")
    assert not is_valid_prefix_pattern("*re")
    assert not is_valid_prefix_pattern("r*e")
    assert not is_valid_prefix_pattern("**")


def test_mlt_terms_and_topk(spark, tiny):
    """MoreLikeThis: seed terms rank by tf*idf (tie term ASC), the
    disjunctive rerun never returns the seed itself."""
    from solr_ocr_processor_spark.operators.expand import mlt_terms, mlt_topk

    # doc 0 (c0): big tf=3 data tf=3, is/pipelines tf=1; df(big)=df(data)=3,
    # df(is)=df(pipelines)=1 -> idf(rare) > idf(common) but tf=3 wins:
    # w(big)=w(data)=3*idf3 > w(is)=w(pipelines)=idf1?  idf(df=1) vs 3*idf(df=3):
    # N=4: idf(3)=ln(1+1.5/3.5)=0.357 -> 1.07; idf(1)=ln(1+3.5/1.5)=1.20.
    # So 'is'/'pipelines' (1.20) outrank big/data (1.07) — assert exact order.
    got = mlt_terms(spark, tiny, 0, max_query_terms=3)
    assert got == ["is", "pipelines", "big"]

    rows = mlt_topk(spark, tiny, 0, k=10, max_query_terms=4).collect()
    ids = [r.conv_id for r in rows]
    assert "c0" not in ids          # the seed never returns itself
    assert set(ids) <= {"c1", "c2"}  # docs sharing big/data
    assert all(r.score > 0 for r in rows)

    # unknown doc id -> empty with the contract schema
    empty = mlt_topk(spark, tiny, 999, k=5)
    assert empty.count() == 0 and empty.columns == ["doc_id", "conv_id", "score"]


def test_suggest_terms_ranking(spark, tiny):
    from solr_ocr_processor_spark.operators.expand import suggest_terms

    rows = suggest_terms(spark, tiny, "re", n=10).collect()
    assert [(r.term, r.df) for r in rows] == [("relevant", 1), ("reversed", 1)]
    assert suggest_terms(spark, tiny, "re", n=1).count() == 1
    assert suggest_terms(spark, tiny, "*re", n=5).count() == 0


def test_sort_topk_field_ordering(spark, tiny):
    """Solr sort= analog: matches ordered by a doc field, not BM25."""
    import pytest as _pytest

    from solr_ocr_processor_spark.operators.query import sort_topk

    # matched docs and their dl: c0=8, c1=5, c2=4
    rows = sort_topk(spark, tiny, "big data", by="dl", k=10).collect()
    assert [(r.conv_id, r.dl) for r in rows] == [("c0", 8), ("c1", 5), ("c2", 4)]
    asc = sort_topk(spark, tiny, "big data", by="dl", descending=False, k=2)
    assert [r.conv_id for r in asc.collect()] == ["c2", "c1"]
    # other doc_meta fields work; unknown fields are rejected
    byc = sort_topk(spark, tiny, "big data", by="n_turns", k=1).collect()
    assert byc[0].conv_id == "c0"
    with _pytest.raises(ValueError):
        sort_topk(spark, tiny, "big data", by="doc_text")
    assert sort_topk(spark, tiny, "", by="dl").count() == 0


def test_sort_topk_by_date(spark, dated):
    """last_ts sorts as epoch seconds — newest-activity-first is the
    Solr `sort=date desc` staple."""
    from solr_ocr_processor_spark.operators.query import sort_topk

    rows = sort_topk(spark, dated, "big data", by="last_ts").collect()
    assert [r["conv_id"] for r in rows] == ["d2", "d1", "d0"]
    base = int(
        datetime.datetime(2026, 3, 1, tzinfo=datetime.timezone.utc).timestamp()
    )
    assert rows[0]["last_ts"] == base + 27 * 60


def test_bm25_pagination(spark, tiny):
    """Solr start= analog: pages partition the ranking (the total order
    makes them stable), past-the-end pages are empty."""
    from solr_ocr_processor_spark.operators.score import bm25_topk

    full = bm25_topk(spark, tiny, "big data", k=10).collect()
    p1 = bm25_topk(spark, tiny, "big data", k=2).collect()
    p2 = bm25_topk(spark, tiny, "big data", k=2, start=2).collect()
    assert [tuple(r) for r in p1 + p2] == [tuple(r) for r in full[:4]]
    assert bm25_topk(spark, tiny, "big data", k=5, start=50).count() == 0


# --- Solr response components: date facet, stats, collapse ------------------


@pytest.fixture(scope="module")
def dated(spark):
    """Tiny index whose convs END at different times: last_ts is the
    max ts over a conv's turns (build-time doc-values)."""
    def ts(minute):
        return datetime.datetime(2026, 3, 1, 0, minute)

    rows = [
        ("d0", 0, "user", "big data early", None, ts(1)),
        ("d0", 1, "assistant", "more big data", None, ts(4)),    # ends 00:04
        ("d1", 0, "user", "big data later on", None, ts(13)),    # ends 00:13
        ("d2", 0, "user", "big data latest of all", None, ts(27)),  # 00:27
        ("d3", 0, "user", "irrelevant filler", None, ts(2)),
    ]
    idx = build_postings(spark.createDataFrame(rows, TRANSCRIPT_SCHEMA))
    idx.doc_meta.persist().count()
    return idx


def test_date_facet_buckets(spark, dated):
    """Matching docs bucket by last_ts, epoch-aligned 10-min gaps;
    the non-matching conv never counts."""
    from solr_ocr_processor_spark.operators.facet import date_facet_counts

    got = {
        r["bucket_start"]: r["n_docs"]
        for r in date_facet_counts(spark, dated, "big data", 10).collect()
    }
    base = int(datetime.datetime(2026, 3, 1, tzinfo=datetime.timezone.utc).timestamp())
    assert got == {base: 1, base + 600: 1, base + 1200: 1}
    # one conv per 10-min bucket: d0 ends :04, d1 :13, d2 :27

    with pytest.raises(ValueError):
        date_facet_counts(spark, dated, "big data", 0)
    assert date_facet_counts(spark, dated, "", 10).count() == 0
    assert date_facet_counts(spark, dated, "zzzz", 10).count() == 0


def test_date_facet_tsless_store_rejected(spark, dated):
    """An index whose doc_meta lacks last_ts (a store written before
    the doc-values column existed) raises instead of returning a
    silently-empty histogram."""
    import dataclasses

    from solr_ocr_processor_spark.operators.facet import date_facet_counts

    old = dataclasses.replace(dated, doc_meta=dated.doc_meta.drop("last_ts"))
    with pytest.raises(ValueError):
        date_facet_counts(spark, old, "big data", 10)


def test_stats_field(spark, tiny):
    from solr_ocr_processor_spark.operators.facet import stats_field
    import statistics

    dls = {
        r["doc_id"]: r["dl"]
        for r in tiny.doc_meta.select("doc_id", "dl").collect()
    }
    # "big data" matches c0, c1, c2 (not c3)
    matched = [dls[d] for d in sorted(dls)[:3]]
    row = stats_field(spark, tiny, "big data", field="dl").first()
    assert row["n"] == 3
    assert row["min"] == min(matched) and row["max"] == max(matched)
    assert row["sum"] == sum(matched)
    assert row["mean"] == round(statistics.mean(matched), 6)
    assert row["stddev"] == round(statistics.stdev(matched), 6)

    # doc_meta-resident fields go through the doc_id join path
    row2 = stats_field(spark, tiny, "big data", field="n_turns").first()
    assert row2["n"] == 3 and row2["max"] == 2  # c0 has two turns

    with pytest.raises(ValueError):
        stats_field(spark, tiny, "big data", field="doc_text")
    assert stats_field(spark, tiny, "", field="dl").count() == 0


def test_collapse_topk(spark, tiny):
    """One champion per dl-bucket; deleted champions un-shadow their
    runner-up; a corpus-wide bucket degenerates to global top-1."""
    from solr_ocr_processor_spark.operators.collapse import collapse_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    full = bm25_topk(spark, tiny, "big data", k=10).collect()
    dls = {r["doc_id"]: r["dl"] for r in tiny.doc_meta.collect()}

    # width wide enough for one bucket -> exactly the global winner
    one = collapse_topk(spark, tiny, "big data", width=10_000, k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in one] == [
        (full[0]["doc_id"], full[0]["score"])
    ]

    # width=1: manual expectation — best (score, -doc_id) per dl value
    got = collapse_topk(spark, tiny, "big data", width=1, k=10).collect()
    best: dict[int, tuple] = {}
    for r in full:
        g = dls[r["doc_id"]]
        if g not in best or (r["score"], -r["doc_id"]) > (best[g]["score"], -best[g]["doc_id"]):
            best[g] = r
    want = sorted(
        ((dls[r["doc_id"]], r["doc_id"], r["score"]) for r in best.values()),
        key=lambda t: (-t[2], t[1]),
    )
    assert [(r["group"], r["doc_id"], r["score"]) for r in got] == want

    # tombstoning the wide-bucket champion surfaces the runner-up
    dead = spark.createDataFrame([(full[0]["doc_id"],)], "doc_id long")
    got2 = collapse_topk(
        spark, tiny, "big data", width=10_000, k=10, exclude_docs=dead
    ).collect()
    assert [r["doc_id"] for r in got2] == [full[1]["doc_id"]]

    with pytest.raises(ValueError):
        collapse_topk(spark, tiny, "big data", width=0)
    assert collapse_topk(spark, tiny, "").count() == 0


def test_filter_query_parse():
    from solr_ocr_processor_spark.operators.query import (
        FilterSyntaxError,
        parse_range_filter,
    )

    assert parse_range_filter("dl:[10 TO 20]") == ("dl", 10, 20)
    assert parse_range_filter(" n_chars : [ * TO 99 ] ") == ("n_chars", None, 99)
    assert parse_range_filter("last_ts:[1767225600 TO *]") == (
        "last_ts", 1767225600, None,
    )
    for bad in ("dl:[20 TO 10]", "dl:[a TO b]", "dl:{10 TO 20}",
                "score:[1 TO 2]", "dl:[1 TO 2] OR x", "", "dl"):
        with pytest.raises(FilterSyntaxError):
            parse_range_filter(bad)


def test_filtered_topk(spark, tiny, dated):
    """fq narrows the match set but never the scores: every surviving
    hit keeps its unfiltered score; out-of-range docs drop."""
    from solr_ocr_processor_spark.operators.query import filtered_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    full = {r["doc_id"]: r["score"]
            for r in bm25_topk(spark, tiny, "big data", k=10).collect()}
    dls = {r["doc_id"]: r["dl"] for r in tiny.doc_meta.collect()}

    got = filtered_topk(spark, tiny, "big data", "dl:[5 TO 7]", k=10).collect()
    assert got, "range should keep some docs"
    for r in got:
        assert 5 <= dls[r["doc_id"]] <= 7
        assert r["score"] == full[r["doc_id"]]  # scores unchanged by fq
    kept = {d for d, dl in dls.items() if 5 <= dl <= 7 and d in full}
    assert {r["doc_id"] for r in got} == kept

    # open ends; empty range result; date filter on the dated fixture
    assert {r["doc_id"] for r in
            filtered_topk(spark, tiny, "big data", "dl:[* TO *]", k=10).collect()
            } == set(full)
    assert filtered_topk(spark, tiny, "big data", "dl:[900 TO 999]").count() == 0
    base = int(
        datetime.datetime(2026, 3, 1, tzinfo=datetime.timezone.utc).timestamp()
    )
    late = filtered_topk(
        spark, dated, "big data", f"last_ts:[{base + 600} TO *]", k=10
    ).collect()
    assert {r["conv_id"] for r in late} == {"d1", "d2"}  # d0 ends :04
    assert filtered_topk(spark, tiny, "", "dl:[1 TO 2]").count() == 0


def test_spellcheck_terms(spark, tiny):
    """(dist ASC, df DESC, term ASC): exact hit first, then 1-edit
    neighbors by popularity; empty/unnormalizable words empty."""
    from solr_ocr_processor_spark.operators.expand import spellcheck_terms

    # tiny dictionary includes 'big' (df 3) and 'data' (df 3)
    got = [(r["term"], r["dist"]) for r in
           spellcheck_terms(spark, tiny, "dat", n=5, max_edits=2).collect()]
    assert got[0][1] <= got[-1][1]  # non-decreasing distance
    assert ("data", 1) in got
    exact = [(r["term"], r["dist"]) for r in
             spellcheck_terms(spark, tiny, "big", n=5, max_edits=1).collect()]
    assert exact[0] == ("big", 0)  # correctly-spelled word ranks itself first
    assert spellcheck_terms(spark, tiny, "", n=5).count() == 0
    assert spellcheck_terms(spark, tiny, "zzzzzzzzzz", n=5).count() == 0


def test_wildcard_expansion_and_topk(spark, tiny):
    """Wildcards in any position expand against the dictionary; the
    LIKE compilation and validity gate reject what Lucene rejects; a
    single-expansion wildcard ranks exactly like the plain term."""
    from solr_ocr_processor_spark.operators.expand import (
        expand_wildcard,
        is_valid_wildcard_pattern,
        wildcard_topk,
    )
    from solr_ocr_processor_spark.operators.score import bm25_topk

    assert expand_wildcard(spark, tiny, "d?ta") == ["data"]
    assert expand_wildcard(spark, tiny, "*ata") == ["data"]   # leading ok
    assert expand_wildcard(spark, tiny, "r*d") == ["reversed"]
    # df DESC, term ASC cap order over a multi-hit pattern
    multi = expand_wildcard(spark, tiny, "*e*")
    dfs = {r["term"]: r["df"] for r in tiny.term_stats.collect()}
    assert multi == sorted(multi, key=lambda t: (-dfs[t], t))

    for bad in ("", "*", "??*", "b!g*", "big data*"):
        assert not is_valid_wildcard_pattern(bad)
        assert expand_wildcard(spark, tiny, bad) == []
    assert is_valid_wildcard_pattern("Big*")  # casefolds like the analyzer

    got = wildcard_topk(spark, tiny, "b?g", k=10).collect()
    want = bm25_topk(spark, tiny, "big", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_mm_topk_thresholds(spark, tiny):
    """mm=1 is the OR query, mm=len(terms) (and any over-large mm,
    clamped) is the AND query — scores identical to the OR scorer's
    (the gate filters, never rescores)."""
    from solr_ocr_processor_spark.operators.query import mm_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    disj = [(r["doc_id"], r["score"])
            for r in bm25_topk(spark, tiny, "big data", k=10).collect()]
    conj = [(r["doc_id"], r["score"])
            for r in conjunctive_topk(spark, tiny, "big data", k=10).collect()]

    got1 = [(r["doc_id"], r["score"])
            for r in mm_topk(spark, tiny, "big data", mm=1, k=10).collect()]
    got2 = [(r["doc_id"], r["score"])
            for r in mm_topk(spark, tiny, "big data", mm=2, k=10).collect()]
    got99 = [(r["doc_id"], r["score"])
             for r in mm_topk(spark, tiny, "big data", mm=99, k=10).collect()]
    assert got1 == disj
    assert got2 == conj
    assert got99 == conj          # Solr clamps mm to the clause count
    # a query where the gate bites: only c2 has BOTH big and reversed
    bites = mm_topk(spark, tiny, "big reversed", mm=2, k=10).collect()
    assert len(bites) == 1
    assert len(mm_topk(spark, tiny, "big reversed", mm=1, k=10).collect()) > 1
    assert mm_topk(spark, tiny, "", mm=1).count() == 0


def test_group_topk(spark, tiny):
    """Top-k groups ranked by champion score, each with its own
    (score DESC, doc_id ASC) top-group_limit list; group_limit=1
    degenerates to the collapse champions of the paged groups."""
    from solr_ocr_processor_spark.operators.collapse import group_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    full = bm25_topk(spark, tiny, "big data", k=10).collect()
    dls = {r["doc_id"]: r["dl"] for r in tiny.doc_meta.collect()}
    by_group: dict[int, list] = {}
    for r in sorted(full, key=lambda r: (-r["score"], r["doc_id"])):
        by_group.setdefault(dls[r["doc_id"]], []).append(r)
    order = sorted(by_group, key=lambda g: (-by_group[g][0]["score"], g))

    got = group_topk(
        spark, tiny, "big data", width=1, k=2, group_limit=2
    ).collect()
    want = [
        (g, r["doc_id"], r["score"], rn)
        for g in order[:2]
        for rn, r in enumerate(by_group[g][:2], 1)
    ]
    assert sorted(
        [(r["group"], r["doc_id"], r["score"], r["rn"]) for r in got]
    ) == sorted(want)

    # group_limit=1: exactly the champions of the same top-2 groups
    got1 = group_topk(
        spark, tiny, "big data", width=1, k=2, group_limit=1
    ).collect()
    assert sorted((r["group"], r["doc_id"]) for r in got1) == sorted(
        (g, by_group[g][0]["doc_id"]) for g in order[:2]
    )

    with pytest.raises(ValueError):
        group_topk(spark, tiny, "big data", width=0)
    with pytest.raises(ValueError):
        group_topk(spark, tiny, "big data", group_limit=0)
    assert group_topk(spark, tiny, "").count() == 0


def test_boosted_topk(spark, dated):
    """Recency decay reranks by score * h/(h + age_days) with NOW =
    corpus max(last_ts) — replayed manually from the raw scores and
    doc-values; a freshness-dominant half-life reorders the page."""
    import dataclasses

    from solr_ocr_processor_spark.operators.query import boosted_topk
    from solr_ocr_processor_spark.operators.score import bm25_topk

    h = 0.005  # ~7 min — comparable to the fixture's last_ts spread
    raw = {r["doc_id"]: r["score"]
           for r in bm25_topk(spark, dated, "big data", k=10).collect()}
    meta = {r["doc_id"]: r["last_ts"]
            for r in dated.doc_meta.collect()}
    now = max(meta.values())
    want = sorted(
        (
            (d, s * (h / (h + (now - meta[d]).total_seconds() / 86400.0)))
            for d, s in raw.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )

    got = boosted_topk(spark, dated, "big data", half_life_days=h, k=10).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_, b) in zip(got, want):
        assert r["boosted"] == pytest.approx(b, abs=1e-9)
        assert r["boosted"] <= r["score"]  # decay never amplifies

    # the most recent doc wins under a freshness-dominant half-life
    # even though an older doc has the higher raw score
    best_raw = max(raw, key=lambda d: (raw[d], -d))
    assert got[0]["doc_id"] == max(raw, key=lambda d: meta[d])
    assert got[0]["doc_id"] != best_raw or len(raw) == 1

    with pytest.raises(ValueError):
        boosted_topk(spark, dated, "big data", half_life_days=0)
    old = dataclasses.replace(dated, doc_meta=dated.doc_meta.drop("last_ts"))
    with pytest.raises(ValueError):
        boosted_topk(spark, old, "big data")
    assert boosted_topk(spark, dated, "").count() == 0


def test_pivot_facet_counts(spark, dated):
    """Two-level dl x date counts: every cell consistent with the flat
    facets' marginals; degenerate gaps/widths rejected; ts-less store
    rejected."""
    import dataclasses

    from solr_ocr_processor_spark.operators.facet import (
        date_facet_counts,
        facet_counts,
        pivot_facet_counts,
    )

    got = pivot_facet_counts(
        spark, dated, "big data", width=1, gap_minutes=10
    ).collect()
    assert got and all(r["n_docs"] > 0 for r in got)
    # marginals: summing cells over one axis reproduces each flat facet
    dl_marg: dict[int, int] = {}
    ts_marg: dict[int, int] = {}
    for r in got:
        dl_marg[r["dl_bucket"]] = dl_marg.get(r["dl_bucket"], 0) + r["n_docs"]
        ts_marg[r["ts_bucket"]] = ts_marg.get(r["ts_bucket"], 0) + r["n_docs"]
    flat_dl = {r["bucket"]: r["n_docs"]
               for r in facet_counts(spark, dated, "big data", width=1).collect()}
    flat_ts = {r["bucket_start"]: r["n_docs"]
               for r in date_facet_counts(spark, dated, "big data", 10).collect()}
    assert dl_marg == flat_dl
    assert ts_marg == flat_ts

    with pytest.raises(ValueError):
        pivot_facet_counts(spark, dated, "big data", width=0)
    with pytest.raises(ValueError):
        pivot_facet_counts(spark, dated, "big data", gap_minutes=0)
    old = dataclasses.replace(dated, doc_meta=dated.doc_meta.drop("last_ts"))
    with pytest.raises(ValueError):
        pivot_facet_counts(spark, old, "big data")
    assert pivot_facet_counts(spark, dated, "").count() == 0


def test_hash_split_and_sample(spark):
    """Content-addressed split/sample: partition-independent (the same
    ids land in the same buckets under any repartitioning), proportions
    roughly honored, samples nest, bad params rejected."""
    from solr_ocr_processor_spark.operators.split import (
        deterministic_sample,
        hash_split,
    )

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {(r["doc_id"], r["split"]) for r in hash_split(docs).collect()}
    b = {(r["doc_id"], r["split"])
         for r in hash_split(docs.repartition(7)).collect()}
    assert a == b  # pure function of the id
    counts: dict[str, int] = {}
    for _, s in a:
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.90) < 0.03
    assert abs(counts["val"] / 2000 - 0.05) < 0.02

    small = {r["doc_id"] for r in deterministic_sample(docs, 0.02).collect()}
    big = {r["doc_id"] for r in deterministic_sample(docs, 0.20).collect()}
    assert small <= big  # monotone nesting
    assert deterministic_sample(docs, 0.0).count() == 0
    assert deterministic_sample(docs, 1.0).count() == 2000

    with pytest.raises(ValueError):
        hash_split(docs, {"train": 0.5, "val": 0.4})  # doesn't sum to 1
    with pytest.raises(ValueError):
        hash_split(docs, {"train": 1.5, "val": -0.5})
    with pytest.raises(ValueError):
        deterministic_sample(docs, 1.5)


def test_group_stats(spark, tiny):
    """Per-dl-bucket stats: cells consistent with the flat stats
    summary (marginal n/sum), one row per bucket with matches."""
    from solr_ocr_processor_spark.operators.facet import group_stats, stats_field

    got = group_stats(spark, tiny, "big data", width=1).collect()
    assert got and all(r["n"] > 0 and r["min"] <= r["max"] for r in got)
    flat = stats_field(spark, tiny, "big data", field="n_chars").first()
    assert sum(r["n"] for r in got) == flat["n"]
    assert sum(r["sum"] for r in got) == flat["sum"]
    assert min(r["min"] for r in got) == flat["min"]
    assert max(r["max"] for r in got) == flat["max"]

    import pytest

    with pytest.raises(ValueError):
        group_stats(spark, tiny, "big data", width=0)
    assert group_stats(spark, tiny, "").count() == 0
