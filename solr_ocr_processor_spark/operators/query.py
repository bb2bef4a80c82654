"""Query language beyond bag-of-words BM25 (SURVEY Q4).

The reference issues Lucene-syntax queries (field:"phrase") and
delegates parsing/execution to Solr (app/process/solr.go:48-49,69-70,
102-103). Our minimal AST covers the shapes the reference exercises:

- **term / OR-of-terms**  -> ``bm25_topk`` / ``wand_topk`` (elsewhere)
- **AND-of-terms**        -> :func:`conjunctive_topk` — document must
  contain every term; BM25-scored over the matching set.
- **phrase**              -> :func:`phrase_match` / :func:`phrase_topk`
  — consecutive-position match using the positions payload (the very
  payload the reference preserves word coordinates for).

Phrase matching is the classic positional-intersection: a phrase
[t0..tn-1] occurs at anchor position p iff term ti has a posting at
p+i for every i. The intersection runs as ONE vectorized stage
(:func:`_phrase_counts`): dictionary-filter the posting table to the
phrase terms, colocate per doc with one small shuffle, decode the
position payloads in a single numpy pass, and intersect packed
(doc, anchor) keys with a sort+count — the data touched is exactly
the phrase terms' posting lists, tiny relative to the corpus even at
10^12 turns.

Scoring (phrase_topk) follows Lucene's PhraseQuery shape:
``score = (Σ_t idf(t)) * tfnorm(phrase_tf, dl)`` — expressible in
ANSI SQL, so the DuckDB oracle checks it exactly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from ..functions.tokenizer import query_terms, tokenize_text
from .blocks import range_id
from .build import Index
from .score import (
    _suppress,
    bm25_scores,
    bm25_scores_terms,
    bm25_term_score,
    bm25_topk,
    doc_scores,
    phrase_idf,
    query_stats,
    rank_topk,
    sorted_term_fold,
    term_lookup,
    term_scores,
)


def conjunctive_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """AND semantics: only documents containing EVERY query term,
    ranked by the same BM25 sum as the OR scorer.

    Plan: the per-doc scoring aggregation already sees one row per
    (doc, matched term), so the matched-term count comes out of that
    SAME aggregation (bm25_scores with_match_count) — the gate costs
    one filter, no second scan of the token table. ``exclude_docs``
    (tombstones) anti-joins in-plan before the top-k.
    """
    terms = query_terms(query, cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    scored = bm25_scores(spark, index, query, cfg=cfg, with_match_count=True)
    scored = _suppress(scored, exclude_docs)
    return rank_topk(index, scored.where(F.col("n_matched") == len(terms)), k)


def mm_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    mm: int = 2,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Minimum-should-match — Solr's (e)dismax ``mm=`` param: a doc
    qualifies iff it contains at least ``mm`` DISTINCT query terms,
    ranked by the same BM25 sum as the OR scorer. ``mm=1`` is the OR
    query, ``mm=len(terms)`` is :func:`conjunctive_topk`; Solr clamps
    an over-large mm to the clause count, mirrored here.

    Plan: identical to the AND gate — the per-doc scoring aggregation
    already sees one row per (doc, matched term), so the >= mm gate is
    a filter on the SAME aggregation's match count (bm25_scores_terms
    with_match_count); no second scan, no extra shuffle. ``exclude_docs``
    (tombstones) anti-joins in-plan before the top-k."""
    terms = sorted(set(query_terms(query, cfg)))
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    m = min(max(1, int(mm)), len(terms))
    scored = bm25_scores_terms(spark, index, terms, cfg, with_match_count=True)
    scored = _suppress(scored, exclude_docs)
    return rank_topk(index, scored.where(F.col("n_matched") >= m), k)


def boosted_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    half_life_days: float = 30.0,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Recency-boosted relevance — Solr's boost function surface
    (``boost=recip(ms(NOW,date),…)``): each match's BM25 score is
    multiplied by the reciprocal decay ``h / (h + age_days)`` of its
    ``last_ts`` doc-values column and the page ranks by the boosted
    product. NOW is the corpus' max(last_ts), computed IN the plan —
    a wall clock would make the ranking irreproducible across reruns,
    resumes, and the DuckDB oracle replay. Returns (doc_id, conv_id,
    score, boosted), boosted DESC, ties doc_id ASC.

    Plan: the boost reorders ranks (a low-raw-score recent doc may
    win), so last_ts must join BEFORE the top-k: the match-bounded
    scored set joins doc_meta on doc_id (the same pre-ranking
    doc-values probe as sort/filtered_topk; co-located when doc_meta
    is bucketed by doc_id), the scalar NOW rides a 1-row broadcast
    crossJoin, and the boosted order lowers to TakeOrderedAndProject."""
    if "last_ts" not in index.doc_meta.columns:
        raise ValueError("store has no last_ts doc-values column")
    if half_life_days <= 0:
        raise ValueError(f"half_life_days must be positive, got {half_life_days}")
    empty = spark.createDataFrame(
        [], "doc_id long, conv_id string, score double, boosted double"
    )
    if not query_terms(query, cfg):
        return empty
    scored = _suppress(bm25_scores(spark, index, query, cfg=cfg), exclude_docs)
    meta = index.doc_meta.select("doc_id", "conv_id", "last_ts")
    now = meta.agg(F.max("last_ts").alias("_now"))
    h = float(half_life_days)
    age_days = (
        F.unix_timestamp("_now") - F.unix_timestamp("last_ts")
    ) / F.lit(86400.0)
    return (
        scored.join(meta, "doc_id")
        .crossJoin(F.broadcast(now))
        .withColumn("boosted", F.col("score") * (F.lit(h) / (F.lit(h) + age_days)))
        .select("doc_id", "conv_id", "score", "boosted")
        .orderBy(F.desc("boosted"), F.asc("doc_id"))
        .limit(k)
    )


# doc_meta sortable doc-values: numeric fields + the build-time date
# column (last_ts sorts as epoch seconds — Solr's `sort=date desc`).
SORT_FIELDS = ("n_chars", "n_turns", "dl", "last_ts")


def sort_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    by: str = "n_chars",
    descending: bool = True,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Field-sorted matches — Solr's ``sort=`` param overriding
    relevance: the documents matching ANY query term, ordered by a
    doc_meta field instead of BM25, ties doc_id ASC. Returns (doc_id,
    conv_id, <by>).

    Plan: dictionary-filtered posting scan → ONE per-doc dedup
    aggregation (map-side combinable) → semi-join doc_meta on doc_id →
    orderBy+limit lowers to TakeOrderedAndProject (per-partition k-row
    heaps, no global sort). doc_meta is probed by the match set; the
    sort field never rides the posting rows."""
    if by not in SORT_FIELDS:
        raise ValueError(f"unknown sort field {by!r}; one of {SORT_FIELDS}")
    terms = sorted(set(query_terms(query, cfg)))
    empty_schema = f"doc_id long, conv_id string, {by} long"
    if not terms:
        return spark.createDataFrame([], empty_schema)
    matched = _suppress(
        index.postings.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_nt")),
        exclude_docs,
    ).select("doc_id")
    order = F.col(by).desc() if descending else F.col(by).asc()
    return (
        index.doc_meta.join(matched, "doc_id", "left_semi")
        .select("doc_id", "conv_id", F.col(by).cast("long").alias(by))
        .orderBy(order, F.asc("doc_id"))
        .limit(k)
    )


def boolean_not_topk(
    spark: SparkSession,
    index: Index,
    positive: str,
    negative: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """``positive AND NOT negative``: BM25 over the positive terms,
    excluding any document containing any negative term — the
    anti-join flavor of the reference's delete-by-query predicate
    applied at query time.

    Plan: score positives exhaustively (term-pruned scan), anti-join
    the (small, term-pruned) negative doc set, then top-k.
    """
    scored = bm25_scores(spark, index, positive, cfg=cfg)
    neg_terms = query_terms(negative, cfg)
    if neg_terms:
        # posting rows are already one per (term, doc): the negative
        # doc set needs no distinct beyond the multi-term union
        neg_docs = (
            index.postings.where(F.col("term").isin(neg_terms))
            .select("doc_id")
            .distinct()
        )
        scored = scored.join(neg_docs, "doc_id", "left_anti")
    return rank_topk(index, _suppress(scored, exclude_docs), k)


_ANCHOR_SHIFT = 30  # doc-local positions < 2^30 (a 1B-token doc);
# the other 33 bits hold a PARTITION-LOCAL dense doc index, never a
# global doc_id (which the 10^12-doc target would overflow)


# A phrase prune's candidate-range broadcast is bounded by the rarest
# term's doc frequency (<= 1 range per doc); past this many ranges the
# prune is skipped — an all-stopword phrase has ~every range as a
# candidate anyway, so the broadcast would cost more than it saves.
_PRUNE_MAX_RANGES = 4_000_000


def _block_range_prune(
    index: Index, sub: DataFrame, terms: list[str], bidx, dfs=None
) -> DataFrame:
    """Keep only the posting rows whose doc's range holds a bound row
    of EVERY term (see :func:`_phrase_counts`). ``dfs``: callers that
    already read the query stats pass the terms' doc frequencies, so
    the gate costs zero extra Spark jobs."""
    if dfs is None:
        dfs = query_stats(index, terms).df
    if min((dfs.get(t, 0) for t in terms), default=0) > _PRUNE_MAX_RANGES:
        return sub
    cand = (
        bidx.blocks.where(F.col("term").isin(terms))
        .select("term", "range_id")
        .distinct()  # shards may share a range
        .groupBy("range_id")
        .agg(F.count(F.lit(1)).alias("_nt"))
        .where(F.col("_nt") == len(terms))
        .select("range_id")
    )
    return (
        sub.withColumn("range_id", range_id(bidx.cfg.range_size))
        .join(F.broadcast(cand), "range_id")
        .drop("range_id")
    )


def _phrase_counts(
    index: Index, phrase_terms: list[str], bidx=None, dfs=None
) -> DataFrame:
    """(doc_id, phrase_tf, dl): occurrence count of the exact phrase
    per document, as ONE vectorized positional-intersection stage.
    dl rides along from the posting rows so phrase SCORING never joins
    doc_meta before the top-k (conv_id resolves on k rows after).

    Classic anchor intersection — the phrase [t0..tk-1] starts at p
    iff term ti has a posting at p+i for every i — but computed inside
    a single mapInPandas pass instead of k-1 joins:

    1. dictionary filter: only the phrase terms' postings survive the
       scan (parquet row-group pruning via isin);
    2. one small shuffle colocates each doc's surviving postings;
    3. per partition, every term's positions decode in one numpy pass;
       anchor keys pack (local_doc_index << 30 | pos - i) — the doc
       index is partition-local and dense, so no global doc_id bound
       is assumed — and the k-way intersection is a sort+count
       (np.unique, count == k).

    Python only ever sees the QUERY TERMS' postings — at 10^12 turns
    the decoded set is the phrase terms' posting lists, the same data
    a posting-list-intersection engine reads.

    ``bidx`` (the block index) enables BLOCK-RANGE PRUNING: a doc can
    hold the phrase only if EVERY term has a bound row for the doc's
    4096-doc range, so the intersection of the terms' bound-row
    range sets — a tiny dictionary-scale frame — broadcast-joins
    against the postings BEFORE the doc shuffle. For a mixed
    rare+common phrase ("heisenberg the") this drops the common term's
    postings everywhere the rare term doesn't appear: shuffle volume
    scales with the rarest term's ranges, not the stopword's corpus
    footprint. Skipped when the rarest term's df exceeds
    ``_PRUNE_MAX_RANGES`` (all-common phrase: nothing to prune).
    """
    import pandas as pd

    terms = list(dict.fromkeys(phrase_terms))
    k = len(phrase_terms)
    num_partitions = int(
        index.postings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    sub = index.postings.where(F.col("term").isin(terms)).select(
        "term", "doc_id", "tf", "dl", "pos_bytes"
    )
    if bidx is not None:
        sub = _block_range_prune(index, sub, terms, bidx, dfs)
    sub = sub.repartition(num_partitions, "doc_id")

    def _anchors(batches):
        import numpy as np

        from ..functions.codec import decode_positions

        # buffer the partition's (term-filtered) postings, decoded
        docs_by_term: dict[str, list[np.ndarray]] = {t: [] for t in terms}
        pos_by_term: dict[str, list[np.ndarray]] = {t: [] for t in terms}
        row_docs: list[np.ndarray] = []
        row_dls: list[np.ndarray] = []
        for pdf in batches:
            if not len(pdf):
                continue
            tfs_all = pdf["tf"].values.astype(np.int64)
            pos_all = decode_positions(tfs_all, b"".join(pdf["pos_bytes"].values))
            doc_rep = np.repeat(pdf["doc_id"].values.astype(np.int64), tfs_all)
            term_rep = np.repeat(pdf["term"].values, tfs_all)
            row_docs.append(pdf["doc_id"].values.astype(np.int64))
            row_dls.append(pdf["dl"].values.astype(np.int64))
            for t in terms:
                m = term_rep == t
                docs_by_term[t].append(doc_rep[m])
                pos_by_term[t].append(pos_all[m])
        for t in terms:
            if not docs_by_term[t]:
                return  # a term absent in this partition: no anchors here
        # Pack (doc, anchor) with a PARTITION-LOCAL dense doc index —
        # a global doc_id << 30 would overflow int64 at doc_id >= 2^33,
        # far below the 10^12-doc target. Local distinct docs per
        # partition are bounded by memory, never by corpus size.
        uniq_docs = np.unique(
            np.concatenate(
                [np.concatenate(docs_by_term[t]) for t in terms]
            )
        )
        keys = []
        for i, t in enumerate(phrase_terms):
            d = np.concatenate(docs_by_term[t])
            p = np.concatenate(pos_by_term[t]) - i
            ok = p >= 0
            li = np.searchsorted(uniq_docs, d[ok])
            keys.append((li << np.int64(_ANCHOR_SHIFT)) | p[ok])
        allk = np.concatenate(keys)
        uniq, counts = np.unique(allk, return_counts=True)
        hit = uniq[counts == k]
        if not hit.size:
            return
        docs = uniq_docs[hit >> np.int64(_ANCHOR_SHIFT)]
        udoc, utf = np.unique(docs, return_counts=True)
        # dl lookup: dedupe the partition's (doc, dl) rows, align to udoc
        rd = np.concatenate(row_docs)
        rl = np.concatenate(row_dls)
        order = np.argsort(rd, kind="stable")
        rd, rl = rd[order], rl[order]
        first = np.concatenate(([True], rd[1:] != rd[:-1]))
        rd, rl = rd[first], rl[first]
        dl_of = rl[np.searchsorted(rd, udoc)]
        yield pd.DataFrame(
            {
                "doc_id": udoc,
                "phrase_tf": utf.astype(np.int64),
                "dl": dl_of,
            }
        )

    return sub.mapInPandas(_anchors, "doc_id long, phrase_tf long, dl long")


def _proximity_counts(
    index: Index,
    phrase_terms: list[str],
    slop: int,
    bidx=None,
    dfs=None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, prox_tf, dl): sloppy-phrase occurrence count — Lucene's
    ``"a b"~N`` surface (SloppyPhraseQuery; the reference forwards the
    full Lucene grammar to Solr, app/process/solr.go:48-49).

    Semantics (ordered-window, documented for the oracle): the phrase
    [t0..tk-1] matches at anchor p0 iff strictly increasing positions
    p0 < p1 < ... < pk-1 exist with span slack
    ``p_{k-1} - p0 - (k-1) <= slop``; prox_tf counts matching anchors
    p0. slop=0 degenerates to the exact phrase. (For two terms this is
    exactly Lucene's no-reorder slop distance.)

    Same distributed shape as :func:`_phrase_counts` — dictionary
    filter + block-range prune + ONE doc-clustered shuffle — but the
    kernel chains GREEDILY instead of key-intersecting: for each
    candidate chain at term i, the next position is the nearest
    posting of term i+1 after it (one ``np.searchsorted`` per term
    over packed (doc, pos) keys). Greedy minimizes the chain's end
    position, hence its span, so greedy-existence == any-chain
    existence: the kernel is exact, k-1 vectorized binary searches
    over the query terms' postings only.
    """
    import pandas as pd

    terms = list(dict.fromkeys(phrase_terms))
    k = len(phrase_terms)
    num_partitions = int(
        index.postings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    sub = index.postings.where(F.col("term").isin(terms)).select(
        "term", "doc_id", "tf", "dl", "pos_bytes"
    )
    if candidates is not None:
        # rerank-window restriction: decode positions ONLY for the
        # window's candidate set (broadcast semi-join — the window
        # never exceeds Solr's reRankDocs, so this side is tiny and
        # subsumes the block-range prune)
        sub = sub.join(
            F.broadcast(candidates.select("doc_id").distinct()), "doc_id"
        )
    elif bidx is not None:
        # positions don't matter for the range prune: every term must
        # still appear somewhere in the doc's 4096-doc range
        sub = _block_range_prune(index, sub, terms, bidx, dfs)
    sub = sub.repartition(num_partitions, "doc_id")
    max_slack = k - 1 + slop  # chain span bound: p_{k-1} - p0 <= this

    def _chains(batches):
        import numpy as np

        from ..functions.codec import decode_positions

        docs_by_term: dict[str, list[np.ndarray]] = {t: [] for t in terms}
        pos_by_term: dict[str, list[np.ndarray]] = {t: [] for t in terms}
        row_docs: list[np.ndarray] = []
        row_dls: list[np.ndarray] = []
        for pdf in batches:
            if not len(pdf):
                continue
            tfs_all = pdf["tf"].values.astype(np.int64)
            pos_all = decode_positions(tfs_all, b"".join(pdf["pos_bytes"].values))
            doc_rep = np.repeat(pdf["doc_id"].values.astype(np.int64), tfs_all)
            term_rep = np.repeat(pdf["term"].values, tfs_all)
            row_docs.append(pdf["doc_id"].values.astype(np.int64))
            row_dls.append(pdf["dl"].values.astype(np.int64))
            for t in terms:
                m = term_rep == t
                docs_by_term[t].append(doc_rep[m])
                pos_by_term[t].append(pos_all[m])
        for t in terms:
            if not docs_by_term[t]:
                return
        uniq_docs = np.unique(
            np.concatenate([np.concatenate(docs_by_term[t]) for t in terms])
        )
        # packed sorted (doc, pos) keys per term slot (dup terms reuse)
        keys_of: dict[str, np.ndarray] = {}
        for t in terms:
            d = np.concatenate(docs_by_term[t])
            p = np.concatenate(pos_by_term[t])
            li = np.searchsorted(uniq_docs, d)
            keys_of[t] = np.sort((li << np.int64(_ANCHOR_SHIFT)) | p)
        cur = keys_of[phrase_terms[0]]
        start = cur & np.int64((1 << _ANCHOR_SHIFT) - 1)
        for t in phrase_terms[1:]:
            nxt_keys = keys_of[t]
            idx = np.searchsorted(nxt_keys, cur + 1)
            ok = idx < nxt_keys.size
            cand = nxt_keys[idx[ok]]
            same = (cand >> np.int64(_ANCHOR_SHIFT)) == (
                cur[ok] >> np.int64(_ANCHOR_SHIFT)
            )
            cur = cand[same]
            start = start[ok][same]
            if not cur.size:
                return
        span_ok = (
            (cur & np.int64((1 << _ANCHOR_SHIFT) - 1)) - start
        ) <= max_slack
        cur = cur[span_ok]
        if not cur.size:
            return
        docs = uniq_docs[cur >> np.int64(_ANCHOR_SHIFT)]
        udoc, utf = np.unique(docs, return_counts=True)
        rd = np.concatenate(row_docs)
        rl = np.concatenate(row_dls)
        order = np.argsort(rd, kind="stable")
        rd, rl = rd[order], rl[order]
        first = np.concatenate(([True], rd[1:] != rd[:-1]))
        rd, rl = rd[first], rl[first]
        dl_of = rl[np.searchsorted(rd, udoc)]
        yield pd.DataFrame(
            {"doc_id": udoc, "prox_tf": utf.astype(np.int64), "dl": dl_of}
        )

    return sub.mapInPandas(_chains, "doc_id long, prox_tf long, dl long")


def proximity_topk(
    spark: SparkSession,
    index: Index,
    phrase: str,
    slop: int,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
    bidx=None,
) -> DataFrame:
    """Sloppy-phrase query ranked like :func:`phrase_topk`:
    ``(Σ_t idf(t)) * tfnorm(prox_tf, dl, avgdl)``, ties doc_id asc."""
    terms = [t for _, t, _, _ in tokenize_text(phrase, cfg)]
    empty = spark.createDataFrame([], "doc_id long, conv_id string, score double")
    if not terms:
        return empty
    stats = query_stats(index, terms)
    sum_idf = phrase_idf(stats, terms)
    if sum_idf is None:
        return empty
    counts = _suppress(
        _proximity_counts(index, terms, slop, bidx, dfs=stats.df), exclude_docs
    )
    scored = counts.withColumn(
        "score",
        bm25_term_score(F.col("prox_tf"), F.lit(sum_idf), stats.avgdl, cfg),
    )
    return rank_topk(index, scored, k)


def rerank_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    rerank_phrase: str,
    slop: int = 0,
    window: int = 40,
    weight: float = 2.0,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
    bidx=None,
) -> DataFrame:
    """Solr's ReRank query parser (``rq={!rerank reRankQuery=...
    reRankDocs=N reRankWeight=W}`` — the reference forwards the full
    query string to Solr, app/process/solr.go:48-49): run the main
    BM25 query, take its top ``window`` docs, and rescore ONLY that
    window as ``original + W * rerank_score``, where rerank_score is
    the sloppy-phrase score of ``rerank_phrase`` (0 for window docs
    the rerank query misses — Solr's additive contract).

    With ``weight >= 0`` and ``k <= window`` the window top-k IS the
    global top-k (boosts only raise window docs, which already
    dominate every non-window doc), so both are enforced.

    Scale shape — the whole point of rerank at 100 TB: the expensive
    positional pass never touches the corpus. The main query is the
    ordinary TakeOrderedAndProject ranking; the proximity kernel runs
    with ``candidates`` = the window's doc ids (broadcast semi-join on
    the posting scan), so position payloads decode for at most
    ``window`` docs regardless of corpus size.
    """
    if weight < 0:
        raise ValueError(f"weight must be >= 0, got {weight}")
    if k > window:
        raise ValueError(f"k ({k}) must not exceed window ({window})")
    qterms = query_terms(query, cfg)
    terms = [t for _, t, _, _ in tokenize_text(rerank_phrase, cfg)]
    stats = query_stats(index, qterms + terms)
    cand = (
        _suppress(doc_scores(index, stats, qterms, cfg), exclude_docs)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(window)
    )
    boost = F.lit(0.0)
    sum_idf = phrase_idf(stats, terms)
    if sum_idf is not None:
        prox = _proximity_counts(
            index, terms, slop, dfs=stats.df, candidates=cand
        ).select(
            "doc_id",
            bm25_term_score(
                F.col("prox_tf"), F.lit(sum_idf), stats.avgdl, cfg
            ).alias("_boost"),
        )
        cand = cand.join(prox, "doc_id", "left")
        boost = F.coalesce(F.col("_boost"), F.lit(0.0))
    scored = cand.select(
        "doc_id", (F.col("score") + F.lit(float(weight)) * boost).alias("score")
    )
    return rank_topk(index, scored, k)


def phrase_match(
    spark: SparkSession,
    index: Index,
    phrase: str,
    cfg: IndexConfig = DEFAULT,
    bidx=None,
) -> DataFrame:
    """Documents containing the exact phrase, with occurrence count.

    Returns (doc_id, conv_id, phrase_tf) ordered by (phrase_tf desc,
    doc_id asc). ``bidx`` enables block-range pruning
    (see :func:`_phrase_counts`).
    """
    terms = [t for _, t, _, _ in tokenize_text(phrase, cfg)]
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, phrase_tf long")
    counts = _phrase_counts(index, terms, bidx)
    return (
        counts.join(index.doc_meta.select("doc_id", "conv_id"), "doc_id")
        .select("doc_id", "conv_id", "phrase_tf")
        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
    )


def phrase_topk(
    spark: SparkSession,
    index: Index,
    phrase: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
    bidx=None,
) -> DataFrame:
    """Phrase query ranked Lucene-style:
    ``(Σ_t idf(t)) * tfnorm(phrase_tf, dl, avgdl)``, ties doc_id asc.
    ``exclude_docs`` (tombstones) anti-joins in-plan before the top-k."""
    terms = [t for _, t, _, _ in tokenize_text(phrase, cfg)]
    empty = spark.createDataFrame([], "doc_id long, conv_id string, score double")
    if not terms:
        return empty
    stats = query_stats(index, terms)
    sum_idf = phrase_idf(stats, terms)
    if sum_idf is None:
        return empty  # a phrase containing an unseen term matches nothing
    counts = _suppress(
        _phrase_counts(index, terms, bidx, dfs=stats.df), exclude_docs
    )  # carries dl — no doc_meta join
    scored = counts.withColumn(
        "score",
        bm25_term_score(F.col("phrase_tf"), F.lit(sum_idf), stats.avgdl, cfg),
    )
    return rank_topk(index, scored, k)


# --- filter queries (Solr fq=) ----------------------------------------------

# fq-filterable doc-values: the numeric doc_meta fields plus the
# build-time date column (compared as epoch seconds).
FQ_FIELDS = ("dl", "n_turns", "n_chars", "last_ts")

_FQ_RE = None  # compiled lazily (module import stays cheap)


class FilterSyntaxError(ValueError):
    """Malformed fq string — the CLI maps this to a 400."""


def parse_range_filter(fq: str) -> tuple[str, int | None, int | None]:
    """Parse Solr's inclusive range-filter syntax
    ``field:[lo TO hi]`` (``*`` = open end) into (field, lo, hi).
    Values are integers (last_ts compares as epoch seconds). Raises
    :class:`FilterSyntaxError` on anything else — the engine would
    rather 400 than guess."""
    global _FQ_RE
    if _FQ_RE is None:
        import re

        _FQ_RE = re.compile(
            r"^\s*(\w+)\s*:\s*\[\s*(\*|-?\d+)\s+TO\s+(\*|-?\d+)\s*\]\s*$"
        )
    m = _FQ_RE.match(fq or "")
    if not m:
        raise FilterSyntaxError(
            f"bad filter {fq!r}; expected field:[lo TO hi] with * for open ends"
        )
    field, lo, hi = m.group(1), m.group(2), m.group(3)
    if field not in FQ_FIELDS:
        raise FilterSyntaxError(f"unknown filter field {field!r}; one of {FQ_FIELDS}")
    lo_v = None if lo == "*" else int(lo)
    hi_v = None if hi == "*" else int(hi)
    if lo_v is not None and hi_v is not None and lo_v > hi_v:
        raise FilterSyntaxError(f"empty range [{lo_v} TO {hi_v}]")
    return field, lo_v, hi_v


def filtered_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    fq: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k restricted by a doc-values range filter — Solr's
    ``fq=`` param: ``filtered_topk(..., "dl:[50 TO 200]")`` ranks only
    docs whose length is in [50, 200].

    Solr semantics preserved: the filter restricts the MATCH SET but
    never the scoring statistics — idf stays global (bm25_scores reads
    term_stats), so a doc's score is identical with and without the
    filter; only the competition changes.

    Plan: the fq predicate evaluates on doc_meta (doc-values scan,
    min/max row-group pruning on the stored column), producing an
    allowed doc-id set that left-semi-joins into the scoring plan
    BEFORE the top-k (same doc_id equi-join discipline as the
    tombstone anti-join; at rest postings and doc_meta shards share
    doc-id ranges, so the join co-locates). Top-k lowers to
    TakeOrderedAndProject.
    """
    field, lo, hi = parse_range_filter(fq)
    terms = query_terms(query, cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    col = F.col(field).cast("long")  # last_ts -> epoch seconds
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (col >= F.lit(lo))
    if hi is not None:
        cond = cond & (col <= F.lit(hi))
    allowed = index.doc_meta.where(cond).select("doc_id")
    scored = _suppress(bm25_scores(spark, index, query, cfg=cfg), exclude_docs)
    return rank_topk(index, scored.join(allowed, "doc_id", "left_semi"), k)


def pf_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    pf_weight: float = 1.0,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
    bidx=None,
) -> DataFrame:
    """edismax phrase-field boost (``pf=``): rank by
    ``bm25(q) + pf_weight * phrase_score(q-as-phrase)`` — docs where
    the query terms also occur AS A PHRASE get the extra Lucene-style
    phrase clause score (Σ idf × tfnorm over phrase_tf), everyone else
    keeps the plain disjunctive BM25. This is Solr's main relevance
    lever for multi-word queries and the reference hands such params
    straight to Solr (app/process/solr.go:48-49).

    Plan: one stats read serves both legs; the disjunctive leg is the
    standard term-pruned scoring; the phrase leg reuses the positional
    anchor intersection (_phrase_counts, block-range pruned when a
    block index is passed);
    the two meet in a doc_id LEFT join where the phrase side holds
    only phrase-matching docs — far smaller than the match set, never
    corpus-wide.
    """
    terms = [t for _, t, _, _ in tokenize_text(query, cfg)]
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    stats = query_stats(index, terms)
    scored = _suppress(doc_scores(index, stats, terms, cfg), exclude_docs)
    sum_idf = phrase_idf(stats, terms)
    if sum_idf is not None:
        pscore = _phrase_counts(index, terms, bidx, dfs=stats.df).select(
            "doc_id",
            bm25_term_score(
                F.col("phrase_tf"), F.lit(sum_idf), stats.avgdl, cfg
            ).alias("pscore"),
        )
        scored = scored.join(pscore, "doc_id", "left").select(
            "doc_id",
            (
                F.col("score")
                + F.lit(float(pf_weight)) * F.coalesce(F.col("pscore"), F.lit(0.0))
            ).alias("score"),
        )
    return rank_topk(index, scored, k)


def pf2_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    pf2_weight: float = 1.0,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
    bidx=None,
) -> DataFrame:
    """edismax bigram phrase boost (``pf2=``): rank by
    ``bm25(q) + pf2_weight * Σ phrase_score(bigram)`` over every pair
    of ADJACENT query terms — "spark window merge" builds the clauses
    "spark window" and "window merge". Where ``pf=`` only rewards the
    full phrase, ``pf2`` rewards partial word-order preservation, so
    docs that keep SOME of the query's adjacency outrank pure
    bag-of-words matches; the reference forwards such edismax params
    verbatim to Solr (app/process/solr.go:48-49). Duplicate adjacent
    pairs (Lucene: duplicate SHOULD clauses) each contribute.

    Per-bigram clause score = (idf(t0)+idf(t1)) ·
    tfnorm(bigram phrase_tf) — the same Lucene phrase-clause shape as
    :func:`pf_topk`; a bigram with an unindexed term contributes
    nothing (its phrase can match no doc).

    Plan: one stats read serves every leg; the disjunctive leg is the
    standard term-pruned scoring; each bigram leg is one positional
    anchor intersection (:func:`_phrase_counts`, block-range pruned
    when ``bidx`` is passed) whose output is only the bigram-matching docs; the legs
    union (|bigrams| small frames) into ONE doc_id-keyed sum before a
    LEFT join to the base — never corpus-wide."""
    terms = [t for _, t, _, _ in tokenize_text(query, cfg)]
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    stats = query_stats(index, terms)
    base = _suppress(doc_scores(index, stats, terms, cfg), exclude_docs)
    legs = []
    for t0, t1 in zip(terms, terms[1:]):
        sum_idf = phrase_idf(stats, [t0, t1])
        if sum_idf is None:
            continue
        legs.append(
            _phrase_counts(index, [t0, t1], bidx, dfs=stats.df).select(
                "doc_id",
                bm25_term_score(
                    F.col("phrase_tf"), F.lit(sum_idf), stats.avgdl, cfg
                ).alias("p"),
            )
        )
    scored = base
    if legs:
        from functools import reduce

        p2 = (
            reduce(DataFrame.unionByName, legs)
            .groupBy("doc_id")
            # sorted fold: a doc hit by several bigram legs sums their
            # clause scores in deterministic (ascending) order, so the
            # total is bit-stable across partitionings / leg order
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list("p")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("p2")
            )
        )
        scored = base.join(p2, "doc_id", "left").select(
            "doc_id",
            (
                F.col("score")
                + F.lit(float(pf2_weight)) * F.coalesce(F.col("p2"), F.lit(0.0))
            ).alias("score"),
        )
    return rank_topk(index, scored, k)


def term_boost_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Lucene per-term boost syntax — ``spark^2 window merge^0.5``:
    each term's BM25 contribution is multiplied by its caret weight
    (default 1.0). The reference forwards such query strings verbatim
    to Solr (app/process/solr.go:48-49), where the boost scales the
    clause score exactly this way.

    Duplicate normalized terms ADD their boosts (Lucene: duplicate
    SHOULD clauses each contribute, which for the same term equals one
    clause at the summed weight). Scored by :func:`_weighted_topk`, so
    scores are bit-stable across partitionings.
    """
    weights: dict[str, float] = {}
    for tok in query.split():
        word, caret, w = tok.partition("^")
        try:
            wt = float(w) if caret else 1.0
        except ValueError as e:
            raise ValueError(f"bad boost in {tok!r}") from e
        for t in query_terms(word, cfg):
            weights[t] = weights.get(t, 0.0) + wt
    if not weights:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    return _weighted_topk(index, weights, k, cfg, exclude_docs)


def _weighted_topk(
    index: Index,
    weights: dict[str, float],
    k: int,
    cfg: IndexConfig,
    exclude_docs: DataFrame | None,
) -> DataFrame:
    """BM25 top-k with each term's clause score multiplied by its query
    weight — the per-term boost and RM3 rescore shape: the weight rides
    the same literal lookup as idf, and the fold stays the sorted-term
    deterministic sum."""
    terms = sorted(weights)
    per_term = term_scores(index, query_stats(index, terms), terms, cfg)
    scored = (
        per_term.withColumn("term_score", F.col("term_score") * term_lookup(weights))
        .groupBy("doc_id")
        .agg(sorted_term_fold().alias("score"))
    )
    return rank_topk(index, _suppress(scored, exclude_docs), k)


def frange_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    func: str,
    lower: float | None = None,
    upper: float | None = None,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Solr's ``{!frange l=.. u=..}func(...)`` query parser: BM25 top-k
    restricted to docs whose *computed function value* falls in
    [lower, upper] — e.g. ``frange_topk(..., "div(dl, avgdl)", 0.9,
    1.1)`` keeps only near-average-length docs. The reference delegates
    this parser to Solr with the rest of the query string
    (app/process/solr.go:48-49).

    The function expression reuses the streaming-expression evaluator
    (add/sub/mult/div over columns, JVM-side, codegen), evaluated over
    doc_meta with the 1-row corpus stats table cross-broadcast in so
    ``avgdl`` / ``n_docs`` / ``total_tokens`` are usable as scalars.
    Same fq discipline as filtered_topk: the range restricts the MATCH
    SET only — idf/avgdl in the scores stay global, so a doc's score is
    filter-invariant and only the competition changes.
    """
    from .stream_expr import eval_column, parse as parse_stream_expr

    terms = query_terms(query, cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    meta = index.doc_meta.crossJoin(F.broadcast(index.corpus))
    expr = parse_stream_expr(func) if "(" in func else func
    val = eval_column(expr, meta).cast("double")
    cond = F.lit(True)
    if lower is not None:
        cond = cond & (val >= F.lit(float(lower)))
    if upper is not None:
        cond = cond & (val <= F.lit(float(upper)))
    allowed = meta.where(cond).select("doc_id")
    scored = _suppress(bm25_scores(spark, index, query, cfg=cfg), exclude_docs)
    return rank_topk(index, scored.join(allowed, "doc_id", "left_semi"), k)


class JoinSyntaxError(ValueError):
    """Raised for malformed {!join} parameters (CLI maps it to exit 2,
    the reference's 400-class: handler/handler.go error taxonomy)."""


JOIN_DIM_FIELDS = ("lang", "source")  # documents-dimension attributes


def join_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    dim: DataFrame,
    dim_filter: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Solr join query parser — ``q=...&fq={!join from=doc_id
    to=conv_id fromIndex=documents}lang:en``: rank by BM25 but admit
    only documents whose join key appears in the *other* table's rows
    matching ``dim_filter`` (an equality on one attribute, e.g.
    ``lang:en`` / ``source:web``).

    Solr executes this as a two-phase query: run the inner query on
    the from-index, collect its join-key set, filter the outer query
    by it. The Spark-first translation is exactly a **left-semi join
    through the dimension**: the inner filter is a pushed-down
    equality predicate on the dimension scan (row-group pruned), the
    projected key set broadcasts (the filtered dimension side is
    always the small side — that is *why* users join through a
    dimension), and scoring statistics stay global (same Solr rule as
    fq=: the join restricts the match set, never idf).

    ``dim`` rows join on ``conv_id`` derived from the dimension's
    doc_id by the transcripts key rule (sources/transcripts.py:
    conv_id = 'c' || lpad(doc_id, 8, '0')).
    """
    import re

    m = re.fullmatch(r"\s*(\w+)\s*:\s*([\w.-]+)\s*", dim_filter or "")
    if not m:
        raise JoinSyntaxError(
            f"bad join filter {dim_filter!r}; expected field:value"
        )
    field, value = m.group(1), m.group(2)
    if field not in JOIN_DIM_FIELDS:
        raise JoinSyntaxError(
            f"unknown join field {field!r}; one of {JOIN_DIM_FIELDS}"
        )
    if field not in dim.columns or "doc_id" not in dim.columns:
        raise JoinSyntaxError(
            f"dimension table lacks required column(s) {field!r}/'doc_id'; "
            f"has {dim.columns}"
        )
    terms = query_terms(query, cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    keys = (
        dim.where(F.col(field) == F.lit(value))
        .select(
            F.concat(
                F.lit("c"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
            ).alias("conv_id")
        )
        .distinct()
    )
    allowed = index.doc_meta.join(F.broadcast(keys), "conv_id", "left_semi").select(
        "doc_id"
    )
    scored = _suppress(bm25_scores(spark, index, query, cfg=cfg), exclude_docs)
    return rank_topk(index, scored.join(allowed, "doc_id", "left_semi"), k)


def export_sorted(
    spark: SparkSession,
    index: Index,
    query: str,
    fq: str | None = "dl:[32 TO 160]",
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Solr ``/export`` handler: stream the ENTIRE result set (no
    ``rows=`` cap) sorted by docValues — the bulk-extract surface used
    to feed downstream systems, where top-k is wrong because every
    match must come out. Matching = ANY query term (Solr q OR
    semantics) AND the optional ``fq`` range; sort = (dl DESC, doc_id
    ASC); projection = docValues-only (dl, doc_id, conv_id), never
    stored text — exactly /export's contract (it refuses non-docValues
    fields).

    Scale shape: the dictionary ``isin`` prunes postings to the query
    terms, ONE doc_id aggregation dedupes multi-term matches, the fq
    range filters before anything wide, and the total-order sort is
    Spark's range-partitioned exchange (sampling pass + in-partition
    sort) — the one operator family whose OUTPUT is allowed to be
    corpus-sized, so the plan's job is only to keep everything before
    the final exchange narrow. conv_id resolves via the doc_meta join
    AFTER the match set is final (late materialization), and /export's
    cursor-batched delivery maps to partition-ordered iteration
    (``toLocalIterator``) rather than a driver collect."""
    terms = sorted(set(query_terms(query, cfg)))
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, dl long")
    matched = (
        index.postings.where(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.max("dl").cast("long").alias("dl"))
    )
    if fq is not None:
        field, lo, hi = parse_range_filter(fq)
        if field != "dl":
            raise ValueError(f"/export fq field {field!r} is not a docValues field")
        if lo is not None:
            matched = matched.where(F.col("dl") >= lo)
        if hi is not None:
            matched = matched.where(F.col("dl") <= hi)
    if exclude_docs is not None:
        matched = matched.join(
            exclude_docs.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    return (
        matched.join(index.doc_meta.select("doc_id", "conv_id"), "doc_id")
        .select("doc_id", "conv_id", "dl")
        .orderBy(F.desc("dl"), F.asc("doc_id"))
    )


def elevation_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    elevated: list[str],
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Solr QueryElevationComponent (``elevate.xml`` + ``enableElevation``):
    pin the listed conv_ids at the top of the result IN LIST ORDER,
    then fill to k with the organic BM25 order, elevated docs removed
    from it. Elevated docs are returned even when they don't match the
    query at all (the component injects them; their score is 0.0 then),
    which is the editorial-override behavior the reference's users get
    from a stock Solr core.

    Returns (rank, conv_id, score, elevated) — rank 1..e are the pins,
    e+1..k the organic tail ordered (score DESC, conv_id ASC).

    Scale shape: the elevation map is editorial data (tens of rows) —
    it broadcasts everywhere it appears. The organic leg is the
    standard top-k (TakeOrderedAndProject) over-fetched by |elevated|
    so removing pinned winners can't leave the page short; the pinned
    leg probes doc_meta and the score frame with the tiny side
    broadcast. The only rows ranked with a window function are the
    <= k + |elevated| survivors — never the corpus.
    """
    from pyspark.sql.window import Window

    e = len(elevated)
    ev = F.broadcast(
        spark.createDataFrame(
            [(c, i + 1) for i, c in enumerate(elevated)],
            "conv_id string, rank int",
        )
    )
    # Organic leg: top-(k) after removing pins, ranked e+1..k.
    # Tombstones anti-join inside bm25_topk's plan (exclude_docs).
    organic = (
        bm25_topk(spark, index, query, k=k + e, cfg=cfg,
                  exclude_docs=exclude_docs)
        .join(ev.select("conv_id"), "conv_id", "left_anti")
        .limit(k - e if k > e else 0)
    )
    w = Window.orderBy(F.desc("score"), F.asc("conv_id"))
    organic = organic.select(
        (F.row_number().over(w) + F.lit(e)).alias("rank"),
        "conv_id",
        "score",
        F.lit(False).alias("elevated"),
    )
    # Pinned leg: real score when the doc matches, 0.0 when injected.
    # The score frame is corpus-matched-set-sized, so a direct left
    # join from the e-row pin frame would sort-merge it; instead a
    # broadcast SEMI join (pin keys are the tiny build side) cuts it
    # to <= e rows first, and the final left join broadcasts that.
    # A deleted doc cannot be elevated (Solr: the elevate component
    # only pins docs the searcher can still see).
    pin_docs = _suppress(
        index.doc_meta.select("doc_id", "conv_id").join(ev, "conv_id"),
        exclude_docs,
    )
    scores = bm25_scores(spark, index, query, cfg)
    pin_scores = scores.join(
        F.broadcast(pin_docs.select("doc_id")), "doc_id", "left_semi"
    )
    pinned = pin_docs.join(F.broadcast(pin_scores), "doc_id", "left").select(
        "rank",
        "conv_id",
        F.coalesce("score", F.lit(0.0)).alias("score"),
        F.lit(True).alias("elevated"),
    )
    # a pin list longer than the page still returns only k rows
    # (Solr serves the first k elevated ids in that case)
    return pinned.unionByName(organic).where(F.col("rank") <= k).orderBy("rank")


def ltr_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    rerank_docs: int = 50,
    weights: tuple[float, float, float] = (1.0, 0.5, -0.25),
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """Solr LTR plugin (``{!ltr model=...}``), linear model: generate
    candidates with the base ranker, extract a per-candidate feature
    vector, rescore with fixed weights, return top-k by model score.

    Features (the standard LTR starter set, all already in the
    scorer's single aggregation — no extra scan):
      f1 = BM25 score, f2 = matched-term fraction, f3 = dl / avgdl.
    model = w1*f1 + w2*f2 + w3*f3.

    Scale shape: candidate generation is the usual
    TakeOrderedAndProject top-N; features ride along on the SAME
    aggregated rows (with_match_count/with_dl fold into the scorer's
    groupBy), so rescoring is pure column math over N rows and the
    final top-k is another N-row heap. The model never touches the
    corpus — exactly Solr's reRankDocs window contract.
    """
    terms = sorted(set(query_terms(query, cfg)))
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, bm25 double, ltr_score double"
        )
    stats = query_stats(index, terms)
    scored = doc_scores(
        index, stats, terms, cfg, with_match_count=True, with_dl=True
    )
    cands = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(rerank_docs)
    avgdl = stats.avgdl
    w1, w2, w3 = (float(w) for w in weights)
    model = (
        F.lit(w1) * F.col("score")
        + F.lit(w2) * (F.col("n_matched") / F.lit(float(len(terms))))
        + F.lit(w3) * (F.col("dl") / F.lit(avgdl))
    )
    top = (
        cands.withColumn("ltr_score", model)
        .orderBy(F.desc("ltr_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.col("score").alias("bm25"), "ltr_score")
    )
    return (
        top.join(F.broadcast(index.doc_meta.select("doc_id", "conv_id")), "doc_id")
        .select("doc_id", "conv_id", "bm25", "ltr_score")
        .orderBy(F.desc("ltr_score"), F.asc("doc_id"))
    )


def ltr_features(
    spark: SparkSession,
    index: Index,
    query: str,
    rerank_docs: int = 20,
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """Solr LTR FEATURE LOGGING (``fl=[features]``, the
    LTRFeatureLoggerTransformerFactory): emit the raw per-candidate
    feature VECTOR instead of a model score — the training-data export
    a user runs to fit the model :func:`ltr_topk` then serves. Same
    starter features, same candidate window:

      f_bm25 = BM25 score, f_match_frac = matched query terms /
      |terms|, f_dl_ratio = dl / avgdl.

    Returns (doc_id, conv_id, f_bm25, f_match_frac, f_dl_ratio) for
    the top ``rerank_docs`` base-ranker candidates, ordered
    (f_bm25 desc, doc_id asc); floats rounded 6 dp.

    Scale shape: identical to ltr_topk — the features ride the
    scorer's single aggregation (no extra scan), the window is a
    TakeOrderedAndProject, and at training scale this runs per query
    of the judgment log, each an index probe, embarrassingly parallel
    across queries (queryset.batch answers the whole workload in one
    postings pass)."""
    terms = sorted(set(query_terms(query, cfg)))
    if not terms:
        return spark.createDataFrame(
            [],
            "doc_id long, conv_id string, f_bm25 double, "
            "f_match_frac double, f_dl_ratio double",
        )
    stats = query_stats(index, terms)
    scored = doc_scores(
        index, stats, terms, cfg, with_match_count=True, with_dl=True
    )
    cands = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(rerank_docs)
    avgdl = stats.avgdl
    out = cands.select(
        "doc_id",
        F.round("score", 6).alias("f_bm25"),
        F.round(F.col("n_matched") / F.lit(float(len(terms))), 6).alias(
            "f_match_frac"
        ),
        F.round(F.col("dl") / F.lit(avgdl), 6).alias("f_dl_ratio"),
    )
    return (
        out.join(F.broadcast(index.doc_meta.select("doc_id", "conv_id")), "doc_id")
        .select("doc_id", "conv_id", "f_bm25", "f_match_frac", "f_dl_ratio")
        .orderBy(F.desc("f_bm25"), F.asc("doc_id"))
    )


def realtime_get(
    spark: SparkSession,
    index: Index,
    conv_ids: list[str],
) -> DataFrame:
    """Solr ``/get`` (realtime get): fetch the stored doc-values of an
    explicit id list, bypassing the ranked searcher entirely — the
    read the reference's own GET-membership check rides on
    (app/process/solr.go:100-124), widened from exists to full stored
    fields. Returns (doc_id, conv_id, dl, n_turns, n_chars) for the
    ids that exist, conv_id ASC; absent ids yield no row (Solr omits
    them from the response).

    Plan: an isin literal filter over doc_meta — file/row-group
    pruning on the stored table's sorted conv_id layout, no scoring,
    no shuffle. The offline-variant discipline (check_offline's
    pyarrow point lookup) applies when no session is up; this is the
    in-plan version for composed queries.
    """
    return (
        index.doc_meta.where(F.col("conv_id").isin(list(conv_ids)))
        .select(
            "doc_id",
            "conv_id",
            F.col("dl").cast("long").alias("dl"),
            F.col("n_turns").cast("long").alias("n_turns"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .orderBy("conv_id")
    )


def bq_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    bq: str,
    bq_weight: float = 1.0,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """edismax ``bq=`` (additive boost query): the main query defines
    the MATCH SET (OR semantics, unchanged rank inputs); docs that
    also match the boost query gain its BM25 contribution times
    ``bq_weight`` — Lucene's optional SHOULD clause appended to the
    main BooleanQuery, restricted (as edismax does) to docs already
    matching the main query. Contrast boosted_topk (multiplicative
    function boost over a docValues field): bq boosts by CONTENT
    match, not by metadata.

    Returns (doc_id, conv_id, score, boosted): ``score`` the main
    BM25, ``boosted = score + bq_weight * bq_score``, ordered by
    boosted DESC, doc_id ASC.

    Plan: two dictionary-pruned scorer legs (main + boost) joined
    LEFT on doc_id — the boost leg is another match-set-sized frame,
    not a corpus scan; the order lowers to TakeOrderedAndProject. The
    boosted sum is two doubles in a fixed order (main + weighted
    boost), engine-portable.
    """
    if not query_terms(query, cfg):
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, score double, boosted double"
        )
    main = _suppress(bm25_scores(spark, index, query, cfg), exclude_docs)
    boost = bm25_scores(spark, index, bq, cfg).withColumnRenamed(
        "score", "bq_score"
    )
    top = (
        main.join(boost, "doc_id", "left")
        .select(
            "doc_id",
            "score",
            (
                F.col("score")
                + F.lit(float(bq_weight)) * F.coalesce("bq_score", F.lit(0.0))
            ).alias("boosted"),
        )
        .orderBy(F.desc("boosted"), F.asc("doc_id"))
        .limit(k)
    )
    return (
        top.join(F.broadcast(index.doc_meta.select("doc_id", "conv_id")), "doc_id")
        .select("doc_id", "conv_id", "score", "boosted")
        .orderBy(F.desc("boosted"), F.asc("doc_id"))
    )


def constant_score_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    cs_term: str,
    cs_score: float = 1.0,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Lucene constant-score boost — ``field:value^=N`` (the ``^=``
    operator wraps the clause in a ConstantScoreQuery): docs matching
    the clause gain EXACTLY ``cs_score``, independent of tf/idf/dl.
    The main ``query`` defines the match set and contributes its BM25
    score; the constant clause is an optional SHOULD whose score is a
    fixed number — Solr users reach for it when a match flag should
    bump rank by a predictable amount (bq's BM25 contribution varies
    per doc; ``^=`` does not).

    Returns (doc_id, conv_id, score, boosted): ``score`` the main
    BM25, ``boosted = score + cs_score`` iff the doc matches
    ``cs_term`` else ``score``; ordered boosted DESC, doc_id ASC.

    Plan: the constant leg is a dictionary-pruned DISTINCT doc_id
    spine (no tf/dl read — a membership probe, cheaper than a scorer
    leg), LEFT-joined flag → one fixed-order double add. Adding a
    constant is bit-exact, so engine parity needs no float-order
    argument beyond the main scorer's."""
    if not query_terms(query, cfg):
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, score double, boosted double"
        )
    cs_terms = query_terms(cs_term, cfg)
    if len(cs_terms) != 1:
        raise FilterSyntaxError(
            f"constant-score clause must analyze to one term, got {cs_terms!r}"
        )
    main = _suppress(bm25_scores(spark, index, query, cfg), exclude_docs)
    flag = (
        index.postings.where(F.col("term") == cs_terms[0])
        .select("doc_id")
        .distinct()
        .withColumn("__cs", F.lit(True))
    )
    top = (
        main.join(flag, "doc_id", "left")
        .select(
            "doc_id",
            "score",
            F.when(
                F.col("__cs").isNotNull(),
                F.col("score") + F.lit(float(cs_score)),
            )
            .otherwise(F.col("score"))
            .alias("boosted"),
        )
        .orderBy(F.desc("boosted"), F.asc("doc_id"))
        .limit(k)
    )
    return (
        top.join(F.broadcast(index.doc_meta.select("doc_id", "conv_id")), "doc_id")
        .select("doc_id", "conv_id", "score", "boosted")
        .orderBy(F.desc("boosted"), F.asc("doc_id"))
    )


def rm3_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    orig_weight: float = 0.5,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Pseudo-relevance feedback with RM3-style query expansion
    (Lavrenko & Croft 2001; the Anserini/Lucene RM3 default reranker):
    run the query, treat the top ``fb_docs`` hits as pseudo-relevant,
    estimate a relevance model over their vocabulary, add the top
    ``fb_terms`` expansion terms (original query terms excluded), and
    rescore with the interpolated weighted query

        score = ow·bm25(q) + (1−ow)·Σ_e (w_e/Σw)·bm25_term(e)

    The relevance-model weight is the feedback-set average term
    likelihood Σ_d tf(t,d)/dl(d) — computed INTEGER-SCALED
    (``Σ_d round_half_away(10^6·tf/dl)`` in pure integer arithmetic,
    the ``lm.py`` discipline) so the fb_terms SELECTION BOUNDARY is
    bit-identical on any engine — a float tie at the cut would
    otherwise pick different expansion terms and diverge the whole
    ranking, not one score. Returns (doc_id, conv_id, score) ordered
    (score desc, doc_id asc), score rounded 6 dp.

    Plan: feedback docs are the standard top-k probe (k rows to the
    driver); their postings are an isin-pruned point read (fb_docs
    doc_ids — row-group pruning); the weight census aggregates
    |fb vocabulary| rows and only fb_terms survive the
    TakeOrderedAndProject; the rescore is ONE term-pruned weighted
    pass over |q|+fb_terms terms with the engine's sorted
    deterministic fold. Driver traffic: fb_docs ids + fb_terms rows,
    corpus-independent."""
    if not 0.0 <= orig_weight <= 1.0:
        raise ValueError(f"orig_weight must be in [0, 1], got {orig_weight}")
    qterms = sorted(set(query_terms(query, cfg)))
    if not qterms:
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, score double"
        )
    base = _suppress(bm25_scores(spark, index, query, cfg=cfg), exclude_docs)
    fb_ids = [
        r["doc_id"]
        for r in base.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(fb_docs)
        .collect()
    ]
    if not fb_ids:
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, score double"
        )
    # integer-scaled relevance-model weight: exact BIGINT sum of
    # round_half_away(1e6 * tf / dl) per feedback doc
    wrows = (
        index.postings.where(F.col("doc_id").isin(fb_ids))
        .where(~F.col("term").isin(qterms))
        .select(
            "term",
            F.expr(
                "(2 * cast(tf as bigint) * 1000000 + dl) div (2 * cast(dl as bigint))"
            ).alias("w"),
        )
        .groupBy("term")
        .agg(F.sum("w").cast("long").alias("w_int"))
        .orderBy(F.desc("w_int"), F.asc("term"))
        .limit(fb_terms)
        .collect()
    )
    wsum = sum(r["w_int"] for r in wrows) or 1
    weights = {t: float(orig_weight) for t in qterms}
    for r in wrows:
        weights[r["term"]] = (
            (1.0 - float(orig_weight)) * r["w_int"] / float(wsum)
        )
    return _weighted_topk(index, weights, k, cfg, exclude_docs)


def lmdir_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    mu: float = 2000.0,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing — Lucene's
    ``LMDirichletSimilarity``, a SELECTABLE similarity class in the
    Solr schema the reference delegates to (solrconfig
    ``<similarity class="...LMDirichletSimilarityFactory">``): the
    second scoring model next to BM25, the standard language-model
    baseline (Zhai & Lafferty 2001). Per matched term,

        s(t,d) = max(0, ln(1 + tf·T / (μ·cf)) + ln(μ / (dl + μ)))

    with T the corpus token count and cf the term's collection
    frequency (Lucene clamps each term's score at 0 — a term more
    common in the doc than the background can only help). Returns
    (doc_id, conv_id, score) ordered (score desc, doc_id asc), score
    rounded 6 dp.

    Plan: identical spine to the BM25 scorer — dictionary-filtered
    postings scan, |Q|-row broadcast of (cf, T), sorted deterministic
    fold, TakeOrderedAndProject. T is an exact BIGINT from the corpus
    frame, so the background model is engine-portable."""
    if mu <= 0:
        raise ValueError(f"mu must be positive, got {mu}")
    terms = sorted(set(query_terms(query, cfg)))
    if not terms:
        return spark.createDataFrame(
            [], "doc_id long, conv_id string, score double"
        )
    cfs = F.broadcast(
        index.term_stats.where(F.col("term").isin(terms))
        .select("term", "cf")
        .crossJoin(index.corpus.select("total_tokens"))
    )
    s_t = F.greatest(
        F.lit(0.0),
        F.log(
            F.lit(1.0)
            + (F.col("tf").cast("double") * F.col("total_tokens").cast("double"))
            / (F.lit(float(mu)) * F.col("cf").cast("double"))
        )
        + F.log(F.lit(float(mu)) / (F.col("dl").cast("double") + F.lit(float(mu)))),
    )
    scored = (
        index.postings.where(F.col("term").isin(terms))
        .join(cfs, "term")
        .select("term", "doc_id", s_t.alias("term_score"))
        .groupBy("doc_id")
        .agg(sorted_term_fold().alias("score"))
    )
    return rank_topk(index, _suppress(scored, exclude_docs), k)


def payload_score_topk(
    spark: SparkSession,
    index: Index,
    term: str,
    func: str = "max",
    k: int = 10,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Solr ``{!payload_score f=.. func=.. v=term}`` (the
    PayloadScoreQParser with ``includeSpanScore=false``): every
    matching document scores ``func`` over the payloads stored at the
    term's positions, ranked score DESC. The payload here is the
    occurrence's token position — the engine's per-position payload
    slot, the same slot the reference preserves OCR word coordinates
    in (app/process/alto.go writes word x/y/w/h into the indexed
    token; our positions/locs payload is that analog, build.py).

    ``func``: ``max`` / ``min`` (exact BIGINT — no float boundary at
    all) or ``avg`` (integer-scaled ``floor(1e6 * sum / tf)`` so the
    ranking boundary stays exact arithmetic on both engines).

    Plan shape: dictionary filter to the ONE term (postings are
    sorted/clustered by term, so parquet row-group stats prune the
    scan), decode only that term's position payloads (flat_tokens
    AFTER the filter — work bounded by the term's cf, never the
    corpus), one map-side-combinable groupBy(doc_id), then
    TakeOrderedAndProject(k). Returns (doc_id, conv_id, payload),
    payload DESC, ties doc_id ASC."""
    from ..functions.tokenizer import flat_tokens

    if func not in ("max", "min", "avg"):
        raise ValueError(f"unsupported payload func {func!r}")
    occ = flat_tokens(index.postings.where(F.col("term") == term)).select(
        "doc_id", "token_pos"
    )
    if func == "avg":
        agg = F.floor(
            F.sum(F.col("token_pos").cast("long"))
            * F.lit(1_000_000)
            / F.count(F.lit(1))
        ).cast("long")
    elif func == "max":
        agg = F.max("token_pos").cast("long")
    else:
        agg = F.min("token_pos").cast("long")
    scored = occ.groupBy("doc_id").agg(agg.alias("payload"))
    top = (
        _suppress(scored, exclude_docs)
        .orderBy(F.desc("payload"), F.asc("doc_id"))
        .limit(k)
    )
    return (
        top.join(index.doc_meta.select("doc_id", "conv_id"), "doc_id")
        .select("doc_id", "conv_id", "payload")
        .orderBy(F.desc("payload"), F.asc("doc_id"))
    )


def span_near_topk(
    spark: SparkSession,
    index: Index,
    phrase: str,
    slop: int,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Lucene SpanNearQuery with ``inOrder=false`` — the UNORDERED
    half of the sloppy-phrase pair (:func:`proximity_topk` is the
    ordered one): a two-term span matches wherever the second term
    occurs within the window in EITHER direction
    (``0 < |p1 - p0| <= slop + 1``). ``span_tf`` counts distinct
    first-term anchors with at least one partner; scoring is the
    phrase contract (``Σ idf · tfnorm(span_tf, dl)``), ties doc_id
    ASC.

    Plan: each term's positions decode AFTER the dictionary filter
    (bounded by its cf, the positional-intersection discipline of
    _phrase_counts); the pair join is doc-keyed with a band predicate
    — the data moved is exactly the two posting lists, corpus-
    independent. Returns (doc_id, conv_id, score)."""
    terms = [t for _, t, _, _ in tokenize_text(phrase, cfg)]
    empty = spark.createDataFrame([], "doc_id long, conv_id string, score double")
    if len(terms) != 2:
        raise ValueError(f"span_near_topk needs exactly 2 terms, got {terms!r}")
    stats = query_stats(index, terms)
    sum_idf = phrase_idf(stats, terms)
    if sum_idf is None:
        return empty
    from ..functions.tokenizer import flat_tokens

    win = int(slop) + 1
    p0 = flat_tokens(index.postings.where(F.col("term") == terms[0])).select(
        "doc_id", F.col("token_pos").alias("pos0"), "dl"
    )
    p1 = flat_tokens(index.postings.where(F.col("term") == terms[1])).select(
        F.col("doc_id").alias("d1"), F.col("token_pos").alias("pos1")
    )
    matched = p0.join(
        p1,
        (F.col("doc_id") == F.col("d1"))
        & (F.abs(F.col("pos1") - F.col("pos0")) <= F.lit(win))
        & (F.col("pos1") != F.col("pos0")),
    )
    counts = matched.groupBy("doc_id", "dl").agg(
        F.countDistinct("pos0").alias("span_tf")
    )
    scored = _suppress(counts, exclude_docs).withColumn(
        "score",
        bm25_term_score(F.col("span_tf"), F.lit(sum_idf), stats.avgdl, cfg),
    )
    return rank_topk(index, scored, k)


def topic_pull(
    spark: SparkSession,
    index: Index,
    term: str,
    checkpoint_ts,
    limit: int = 50,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Solr streaming ``topic()`` verb: the checkpointed incremental
    pull — "give me every document matching the query whose version is
    NEWER than my last checkpoint". Solr checkpoints ``_version_``;
    the engine's version analog is ``last_ts`` (doc_meta carries the
    max turn timestamp, build.py). A subscriber stores the max
    ``last_ts`` it has seen and passes it back as ``checkpoint_ts`` on
    the next pull — at-least-once delivery, the same contract as the
    reference's re-crawlable item loop (app/handler/indexer.go walks
    the full item list every run and relies on idempotent upserts).

    Returns (doc_id, conv_id, last_ts) with last_ts > checkpoint,
    ordered last_ts ASC, doc_id ASC (oldest-first, the order a
    subscriber consumes), capped at ``limit`` per pull (Solr's
    ``rows`` per topic iteration).

    Plan: the term's doc list (dictionary-filtered postings — bounded
    by df) broadcasts as a LEFT SEMI join against doc_meta; the ts
    filter is a pushed scan predicate on the doc table; the cut is
    TakeOrderedAndProject(limit). Nothing corpus-sized shuffles."""
    matches = index.postings.where(F.col("term") == term).select("doc_id")
    out = (
        index.doc_meta.join(F.broadcast(matches), "doc_id", "left_semi")
        .where(F.col("last_ts") > F.lit(checkpoint_ts))
        .select("doc_id", "conv_id", "last_ts")
    )
    return (
        _suppress(out, exclude_docs)
        .orderBy(F.asc("last_ts"), F.asc("doc_id"))
        .limit(int(limit))
    )


def parse_mm_spec(spec: str, n_clauses: int) -> int:
    """Resolve Solr's (e)dismax ``mm=`` specification to the minimum
    number of optional clauses that must match, for ``n_clauses``
    query terms (org.apache.solr.util.SolrPluginUtils
    setMinShouldMatch semantics):

    - ``"3"``      — at least 3;
    - ``"-2"``     — all but 2 (n - 2);
    - ``"75%"``    — int-truncated percentage: (n * 75) // 100;
    - ``"-25%"``   — n minus the truncated percentage;
    - ``"2<75%"``  — conditional: applies only when n > 2; multiple
      space-separated conditionals allowed, the one with the GREATEST
      threshold below n wins, and when n is at or below every
      threshold ALL clauses are required (Solr's documented rule).

    The result is clamped to [1, n]. Raises ValueError on syntax the
    subset doesn't cover (callers map it to a 400).
    """
    if n_clauses <= 0:
        return 0
    spec = spec.strip()
    if not spec:
        raise ValueError("empty mm spec")

    def _simple(s: str, n: int) -> int:
        s = s.strip()
        m = re.fullmatch(r"(-?)(\d+)(%?)", s)
        if not m:
            raise ValueError(f"bad mm spec {s!r}")
        neg, num, pct = m.group(1) == "-", int(m.group(2)), m.group(3) == "%"
        v = (n * num) // 100 if pct else num
        return n - v if neg else v

    if "<" in spec:
        best_thresh, best_val = -1, None
        for part in spec.split():
            if "<" not in part:
                raise ValueError(f"bad conditional mm spec {part!r}")
            th_s, _, sub = part.partition("<")
            if not th_s.isdigit():
                raise ValueError(f"bad mm threshold {th_s!r}")
            th = int(th_s)
            val = _simple(sub, n_clauses)  # syntax-check every clause
            if th < n_clauses and th > best_thresh:
                best_thresh, best_val = th, val
        resolved = n_clauses if best_val is None else best_val
    else:
        resolved = _simple(spec, n_clauses)
    return min(max(1, resolved), n_clauses)
