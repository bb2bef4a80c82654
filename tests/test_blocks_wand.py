"""M2/M3: codec roundtrip, block bound integrity, WAND rank identity.

Rank identity is the BASELINE.json gate: the pruned block scorer must
return bit-identical (doc_id, score) lists to both the exhaustive
DataFrame scorer and the pure-pandas oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.functions.bm25 import tf_norm
from solr_ocr_processor_spark.functions.codec import (
    decode_positions,
    encode_positions,
    varint_decode,
    varint_encode,
)
from solr_ocr_processor_spark.operators.blocks import build_block_index
from solr_ocr_processor_spark.operators.build import build_postings
from solr_ocr_processor_spark.operators.score import bm25_topk
from solr_ocr_processor_spark.operators.wand import HEAD, wand_topk
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts

# Small geometry so even the synth corpus spans many ranges.
CFG = IndexConfig(range_size=8)

QUERIES = [
    "spark window merge",
    "the",                      # stopword: hits nearly every doc
    "café naïve",               # unicode -> NFKC/casefold path
    "nonexistentterm",          # absent term
    "spark nonexistentterm",    # mixed present/absent
]


def test_varint_roundtrip():
    rng = np.random.default_rng(1)
    for _ in range(100):
        n = int(rng.integers(0, 200))
        v = rng.integers(0, 2 ** int(rng.integers(1, 63)), size=n, dtype=np.uint64)
        assert np.array_equal(varint_decode(varint_encode(v)), v)


def test_positions_roundtrip():
    rng = np.random.default_rng(2)
    for _ in range(100):
        ndocs = int(rng.integers(1, 15))
        tfs = rng.integers(1, 9, size=ndocs)
        flat = np.concatenate(
            [np.sort(rng.choice(500, size=t, replace=False)) for t in tfs]
        )
        assert np.array_equal(
            decode_positions(tfs, encode_positions(tfs, flat)), flat
        )


@pytest.fixture(scope="module")
def corpus(spark):
    t = synth_transcripts(spark, n_convs=40, max_turns=10, seed=11)
    idx = build_postings(t, CFG)
    for df in (idx.tokens, idx.doc_meta, idx.term_stats):
        df.persist()
    bidx = build_block_index(idx, CFG)
    bidx.blocks.persist().count()
    docs_pd = oracle_materialize(t.toPandas())
    return idx, bidx, docs_pd


def _postings_by_range(idx):
    post = idx.postings.select("term", "doc_id", "tf", "dl").toPandas()
    post["range_id"] = post["doc_id"] // CFG.range_size
    return post


def test_block_integrity(corpus):
    """One bound row per (term, range_id) that has postings, and no
    other: n_docs is exactly that range's posting count."""
    idx, bidx, _ = corpus
    blocks = bidx.blocks.toPandas().set_index(["term", "range_id"]).sort_index()
    assert blocks.index.is_unique
    per_range = _postings_by_range(idx).groupby(["term", "range_id"]).size()
    assert per_range.index.equals(blocks.index)
    assert (per_range.to_numpy() == blocks["n_docs"].to_numpy()).all()
    assert int(blocks["n_docs"].sum()) == idx.postings.count()


def test_block_positions_match_postings(corpus):
    """Positions live on the postings, not the bound table: a term's
    pos_bytes decode to its token positions, and its bound rows cover
    exactly the ranges of the docs that hold it."""
    idx, bidx, _ = corpus
    want: dict[int, list[int]] = {}
    for r in (
        idx.tokens.where("term = 'spark'")
        .select("doc_id", "token_pos")
        .collect()
    ):
        want.setdefault(r["doc_id"], []).append(r["token_pos"])
    want = {k: sorted(v) for k, v in want.items()}
    got = {
        int(r["doc_id"]): list(
            decode_positions(np.array([r["tf"]]), bytes(r["pos_bytes"]))
        )
        for r in idx.postings.where("term = 'spark'")
        .select("doc_id", "tf", "pos_bytes")
        .collect()
    }
    assert got == want
    ranges = {
        r["range_id"]: r["n_docs"]
        for r in bidx.blocks.where("term = 'spark'").collect()
    }
    expect: dict[int, int] = {}
    for d in want:
        expect[d // CFG.range_size] = expect.get(d // CFG.range_size, 0) + 1
    assert ranges == expect


def test_block_bounds_match_postings(corpus):
    """max_tfnorm is >= every posting's tfnorm in its (term, range) —
    exactly, and attained by one of them."""
    idx, bidx, _ = corpus
    avgdl = float(idx.corpus.first()["avgdl"])
    blocks = bidx.blocks.toPandas().set_index(["term", "range_id"]).sort_index()
    assert (blocks["avgdl"] == avgdl).all()
    post = _postings_by_range(idx)
    post["tfnorm"] = tf_norm(post["tf"], post["dl"], avgdl, CFG.k1, CFG.b)
    per_range = post.groupby(["term", "range_id"])
    bound = blocks["max_tfnorm"].reindex(
        pd.MultiIndex.from_frame(post[["term", "range_id"]])
    )
    assert (bound.to_numpy() >= post["tfnorm"].to_numpy()).all()
    tight = per_range["tfnorm"].max().reindex(blocks.index).to_numpy()
    assert (tight == blocks["max_tfnorm"].to_numpy()).all()


def test_wand_runs_the_exhaustive_jobs_below_head(spark, corpus):
    """Below HEAD ranges WAND's plan is bm25_topk's, with no bound-head
    collect: it runs no more Spark jobs than bm25_topk, and the shared
    top-k ends in a TakeOrderedAndProject (no range-partitioned sort's
    sampling job and shuffle)."""
    idx, bidx, _ = corpus
    assert bidx.blocks.select("range_id").distinct().count() < HEAD
    sc = spark.sparkContext
    q = "spark window merge"

    def jobs(name, run):
        sc.setJobGroup(name, name)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    # fill the fixture's lazily persisted dictionary and doc_meta first
    bm25_topk(spark, idx, q, cfg=CFG).collect()
    wand = jobs("wand-budget", lambda: wand_topk(spark, bidx, q, cfg=CFG).collect())
    exhaustive = jobs("bm25-budget", lambda: bm25_topk(spark, idx, q, cfg=CFG).collect())
    assert wand <= exhaustive, (wand, exhaustive)
    assert exhaustive <= 7, exhaustive
    top = wand_topk(spark, bidx, q, cfg=CFG)
    top.collect()
    final = top._jdf.queryExecution().executedPlan().toString().split("== Final Plan ==")[1]
    root = [ln for ln in final.splitlines() if ln.strip() and "QueryStage" not in ln][0]
    assert "TakeOrderedAndProject" in root, final


@pytest.mark.parametrize("query", QUERIES)
def test_wand_rank_identity(spark, corpus, query):
    idx, bidx, docs_pd = corpus
    k = 10
    wand = wand_topk(spark, bidx, query, k=k, cfg=CFG).collect()
    exhaustive = bm25_topk(spark, idx, query, k=k, cfg=CFG).collect()
    oracle = oracle_bm25_topk(docs_pd, query, k=k, cfg=CFG)

    w = [(r["doc_id"], r["score"]) for r in wand]
    e = [(r["doc_id"], r["score"]) for r in exhaustive]
    o = list(zip(oracle["doc_id"], oracle["score"]))

    assert [x[0] for x in w] == [x[0] for x in e] == [x[0] for x in o]
    # engine paths are bit-identical; oracle within float tolerance
    assert all(abs(a[1] - b[1]) == 0.0 for a, b in zip(w, e))
    assert all(abs(a[1] - b[1]) < 1e-9 for a, b in zip(w, o))


def test_engine_paths_bit_identical_where_spark_log1p_differs(spark):
    """30 docs, 'zebra' in 4 of them: Spark's log1p (StrictMath) and
    Python's math.log1p round ln(1 + 26.5/4.5) to different last bits,
    so an idf computed as a Spark column splits the exhaustive and
    batch scorers from WAND and the oracle. Every path must take its
    idf from functions/bm25.idf_scalar and agree bit for bit."""
    import datetime

    from solr_ocr_processor_spark.operators.score import bm25_batch_topk
    from solr_ocr_processor_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    ts = datetime.datetime(2026, 1, 1)
    fill = "alpha beta gamma delta epsilon eta theta iota kappa".split()
    rows = []
    for i in range(30):
        words = [fill[(i + j) % len(fill)] for j in range(3 + i % 7)]
        words += ["zebra"] * (1 + i % 3 if i < 4 else 0)
        rows.append((f"z{i:02d}", 0, "user", " ".join(words), None, ts))
    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    idx = build_postings(t, CFG)
    bidx = build_block_index(idx, CFG)
    docs_pd = oracle_materialize(t.toPandas())

    q, k = "zebra", 10
    paths = {
        "bm25_topk": bm25_topk(spark, idx, q, k=k, cfg=CFG).collect(),
        "bm25_batch_topk": bm25_batch_topk(
            spark, idx, {"q": q}, k=k, cfg=CFG
        ).orderBy("rank").collect(),
        "wand_topk": wand_topk(spark, bidx, q, k=k, cfg=CFG).collect(),
    }
    got = {
        name: [(r["doc_id"], r["score"].hex()) for r in res]
        for name, res in paths.items()
    }
    oracle = oracle_bm25_topk(docs_pd, q, k=k, cfg=CFG)
    got["oracle_bm25_topk"] = [
        (int(d), float(s).hex()) for d, s in zip(oracle["doc_id"], oracle["score"])
    ]
    assert len(got["oracle_bm25_topk"]) == 4
    assert got["bm25_topk"] == got["bm25_batch_topk"] == got["wand_topk"] == (
        got["oracle_bm25_topk"]
    ), got


def test_wand_stopword_covers_all_docs(spark, corpus):
    """'the' appears in most docs — pruning must still return the exact
    global top-k, not just the seed ranges' docs."""
    idx, bidx, docs_pd = corpus
    oracle = oracle_bm25_topk(docs_pd, "the", k=25, cfg=CFG)
    wand = wand_topk(spark, bidx, "the", k=25, cfg=CFG).collect()
    assert [r["doc_id"] for r in wand] == list(oracle["doc_id"])


def test_varint_slices_and_locs_roundtrip():
    """Per-posting payload primitives: varint_slices must slice the
    stream exactly at group boundaries, and gap_reset/decode_locs must
    invert each other — including concatenation across postings (the
    property the block encoder relies on)."""
    from solr_ocr_processor_spark.functions.codec import (
        decode_locs,
        decode_positions,
        gap_reset,
        varint_slices,
    )

    rng = np.random.default_rng(7)
    for _ in range(50):
        n_groups = int(rng.integers(1, 20))
        tfs = rng.integers(1, 12, size=n_groups)
        total = int(tfs.sum())
        # per-group sorted positions (doc-global style)
        flat = np.concatenate(
            [np.sort(rng.choice(10_000, size=t, replace=False)) for t in tfs]
        ).astype(np.int64)
        gaps = gap_reset(flat, tfs).astype(np.uint64)
        slices = varint_slices(gaps, tfs)
        assert len(slices) == n_groups
        # concatenated slices decode to the original flat positions
        assert np.array_equal(decode_positions(tfs, b"".join(slices)), flat)
        # any sub-range of postings decodes standalone (block property)
        lo = int(rng.integers(0, n_groups))
        hi = int(rng.integers(lo + 1, n_groups + 1))
        sub = b"".join(slices[lo:hi])
        assert np.array_equal(
            decode_positions(tfs[lo:hi], sub),
            np.concatenate(
                [flat[int(tfs[:i].sum()):int(tfs[:i + 1].sum())] for i in range(lo, hi)]
            ),
        )
        # loc stream: interleaved (start gap, length) pairs
        starts = flat
        lens = rng.integers(1, 15, size=total).astype(np.int64)
        locv = np.empty(2 * total, dtype=np.int64)
        locv[0::2] = gap_reset(starts, tfs)
        locv[1::2] = lens
        loc_slices = varint_slices(locv.astype(np.uint64), tfs * 2)
        ds, de = decode_locs(tfs, b"".join(loc_slices))
        assert np.array_equal(ds, starts) and np.array_equal(de, starts + lens)


def test_varint_slices_zero_size_groups():
    """Regression (ADVICE r2): a zero-size TRAILING group put
    starts[-1] == len(nbytes), out of range for np.add.reduceat.
    Zero-size groups anywhere must yield empty byte slices and leave
    the non-empty groups' payloads intact."""
    from solr_ocr_processor_spark.functions.codec import (
        varint_decode,
        varint_encode,
        varint_slices,
    )

    vals = np.array([5, 300, 7], dtype=np.uint64)
    # trailing zero group
    s = varint_slices(vals, np.array([2, 1, 0], dtype=np.int64))
    assert len(s) == 3 and s[2] == b""
    assert np.array_equal(varint_decode(b"".join(s)), vals)
    # leading + mid zero groups
    s = varint_slices(vals, np.array([0, 2, 0, 1], dtype=np.int64))
    assert [len(x) > 0 for x in s] == [False, True, False, True]
    assert np.array_equal(varint_decode(s[1]), vals[:2])
    assert np.array_equal(varint_decode(s[3]), vals[2:])
    # all-zero groups over an empty stream
    s = varint_slices(np.empty(0, dtype=np.uint64), np.array([0, 0], dtype=np.int64))
    assert s == [b"", b""]
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
