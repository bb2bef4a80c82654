"""Block-max pruned BM25 top-k over the (term, range) bound table (M3).

The capability Lucene's WAND/MAXSCORE implementation performed for the
reference (Solr >= 8 with the query side delegated, SURVEY Q8/Q9):
answer top-k without scoring every document, using per-range score
upper bounds computed at build time (operators/blocks.py).

Distributed shape — two-phase block-max pruning:

1. **Bound pass (metadata only).** For every doc-id range touched by
   the query terms, compute ``ub(range) = Σ_t idf_t · max_tfnorm``.
   Any document in the range scores ≤ ub(range). This is a tiny
   aggregation over the bound table (no posting read), and it STAYS
   distributed: the driver only collects a fixed-size head of the
   bound order to pick seed ranges (~64 rows), never the full
   ~n_docs/range_size bound table.
2. **Seed + prune.** Exactly score the highest-ub ranges first (one
   Spark job), establishing the running top-k threshold θ = kth best
   score — collected as k rows via a distributed top-k. Every unscored
   range with ub < θ is provably outside the top-k and is pruned by a
   Spark-side filter on the bound table; the seed and surviving ranges
   are scored by the returned plan, whose top-k is the one
   (score DESC, doc_id ASC) helper every scorer shares. θ-pruning is
   *exact* (ranges are pruned only when no document in them can reach
   the heap), so results are rank-identical to exhaustive scoring.
   Total driver traffic per query: 64 bound rows + 2·k score rows,
   independent of corpus size.

Scoring is the shared BM25 core of operators/score.py: the query's
n_docs, avgdl and per-term df come from ``score.query_stats``, the
posting scan is ``score.term_scores`` and each doc's score is the
``score.sorted_term_fold`` of its term scores — a range filter only
selects which docs are folded, and a doc's postings all sit in its
range — so WAND's scores are bit-identical to ``bm25_topk``'s by
construction. Tombstones anti-join through ``score._suppress``, the
same plan ``bm25_topk`` uses, before θ and before the top-k.

Dispatch. Pruning pays only when the query touches at least HEAD
ranges; below that the head would hold every touched range and the
query runs ``bm25_topk``'s plan (``doc_scores`` -> ``_suppress`` ->
``rank_topk``). The touched count is bounded before any bound-table
job, from the stats ``query_stats`` already collected:
``min(Σ df(present terms), ceil(n_docs / range_size))``. The Σ df half
is exact (a term touches at most df ranges). The n_docs half is exact
when doc ids are dense, as after a fresh build or ``compact``; after a
sync it is a cost rule (below HEAD · range_size docs an exhaustive
scan is cheap). Both plans are exact, so the rule only picks which one
runs; a head that comes back shorter than HEAD still falls back.

Why range-granular pruning instead of per-document cursors: a Python
cursor loop is per-posting interpreted code; a range filter is one
column predicate on the posting scan, and the θ bound still skips the
long tail of ranges where no competitive document lives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..functions.tokenizer import query_terms
from .blocks import BlockIndex, range_id
from .score import (
    _suppress,
    doc_scores,
    query_stats,
    rank_topk,
    sorted_term_fold,
    term_lookup,
    term_scores,
)

# Bound rows the driver collects per query. When the head holds every
# touched range, θ-pruning cannot skip enough to pay for its jobs and
# the query is scored exhaustively. A query whose stats bound its
# touched ranges below HEAD (Σ df: exact; ceil(n_docs / range_size):
# exact for dense doc ids, else a cost rule) skips the head collect.
HEAD = 64


def wand_topk(
    spark: SparkSession,
    bidx: BlockIndex,
    query: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Exact BM25 top-k via two-phase block-max pruning.

    Returns (doc_id, conv_id, score) ordered by (score desc, doc_id).
    The corpus scalars and the query terms' df come from
    ``score.query_stats`` (one collect), the same stats read and idf
    every other BM25 scorer uses; the idfs ride the plan as a literal
    map (``score.term_lookup``).

    ``exclude_docs`` is a (doc_id) DataFrame of tombstones, anti-joined
    in the plan before θ and before the top-k, so the result always has
    k live docs when k exist and the driver never holds the dead list.
    """
    cfg = cfg or bidx.cfg
    terms = query_terms(query, cfg)
    empty = spark.createDataFrame([], "doc_id long, conv_id string, score double")
    if not terms or k <= 0:
        return empty

    stats = query_stats(bidx, terms)
    present = sorted(t for t in set(terms) if t in stats.df)
    if not present:
        return empty
    # a job-free bound on the touched ranges (module docstring,
    # Dispatch): below HEAD the head would hold every one of them
    touched = min(
        sum(stats.df[t] for t in present), -(-stats.n_docs // cfg.range_size)
    )
    if touched < HEAD:
        return _exhaustive(bidx, stats, present, cfg, exclude_docs, k)
    # Bound validity under avgdl drift: each row carries the avgdl its
    # max_tfnorm was computed against; tfnorm grows with avgdl by at most
    # avgdl_now/avgdl_built (blocks.py module docstring), so scaling the
    # stored bound by max(1, ratio) keeps pruning exact even for shards
    # built against a stale or shard-local avgdl. Shards may share a
    # range, so a term's bound is its max over their rows.
    # The isin filter reaches the parquet/Iceberg scan as a
    # PushedFilter: the store writes bounds term-sorted so min/max
    # row-group stats prune to a handful of pages per query term.
    bounds = (
        bidx.blocks.where(F.col("term").isin(present))
        .select(
            "range_id",
            "term",
            "n_docs",
            (
                term_lookup({t: stats.idf(t) for t in present})
                * F.col("max_tfnorm")
                * F.greatest(F.lit(1.0), F.lit(stats.avgdl) / F.col("avgdl"))
            ).alias("max_score"),
        )
        .groupBy("range_id", "term")
        .agg(F.max("max_score").alias("tmax"), F.sum("n_docs").alias("nd"))
        .groupBy("range_id")
        .agg(F.sum("tmax").alias("ub"), F.sum("nd").alias("npost"))
    )
    # --- phase 1: seed selection from the TOP of the bound order ---
    # Only a fixed-size head of the per-range bound table reaches the
    # driver (TakeOrderedAndProject) — at 10^9 docs / range 4096 the
    # full bound table is ~250k rows per query; the driver never sees
    # it. Ranges beyond the head stay in the survivor pool, so
    # exactness is unaffected by the head size.
    head = bounds.orderBy(F.desc("ub"), F.asc("range_id")).limit(HEAD).collect()
    if len(head) < HEAD:
        # the head holds EVERY touched range
        return _exhaustive(bidx, stats, present, cfg, exclude_docs, k)

    seed, docs_cov = [], 0
    for r in head:
        seed.append(int(r["range_id"]))
        docs_cov += r["npost"]
        if docs_cov >= max(4 * k, 256) and len(seed) >= 2:
            break
    scan = term_scores(bidx, stats, present, cfg).withColumn(
        "range_id", range_id(cfg.range_size)
    )

    def scored_in(ranges) -> DataFrame:
        return _suppress(
            ranges.groupBy("doc_id").agg(sorted_term_fold().alias("score")),
            exclude_docs,
        )

    # --- phase 2a: score the seed ranges; theta = k-th best (k rows
    # collected — the only score rows the driver holds) ---
    top_seed = (
        scored_in(scan.where(F.col("range_id").isin(seed)))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .collect()
    )
    theta = top_seed[k - 1]["score"] if len(top_seed) >= k else float("-inf")

    # --- phase 2b: prune ub < theta IN SPARK; the seed and surviving
    # ranges are scored together by the returned top-k plan ---
    kept = bounds.where(
        (F.col("ub") >= theta) | F.col("range_id").isin(seed)
    ).select("range_id")
    return rank_topk(bidx, scored_in(scan.join(F.broadcast(kept), "range_id")), k)


def _exhaustive(bidx, stats, present, cfg, exclude_docs, k) -> DataFrame:
    """bm25_topk's plan over the stats already read."""
    scored = doc_scores(bidx, stats, present, cfg)
    return rank_topk(bidx, _suppress(scored, exclude_docs), k)
