"""Block-max bound table over the posting table (M2).

The capability Lucene's segment writer performed for the reference
(delegated at app/process/solr.go:171-202): per-block score upper
bounds that let a top-k query skip whole stretches of the posting
lists.

Layout
------
One row per (term, doc-id range), ``range_id = doc_id // cfg.range_size``:

    blocks(term, range_id, n_docs, max_tfnorm, avgdl)

The table holds only what pruning reads. The postings themselves stay
in the posting table (operators/build.py), which every scorer, WAND
included, scans through the one scoring core in operators/score.py —
the bound table is metadata beside that columnar posting table, not a
second copy of it (the layout of *Columnar Formatted Inverted Index
for Highly-Paralleled, Vectorized Query Processing*, ICDE 2025).

The build is ONE aggregation, ``groupBy(term, range_id)`` over the
postings with map-side partial combine. Ranges bound every group: a
stopword in every doc splits into ``n_docs / range_size`` groups, so
hot-term skew cannot concentrate in one task, and the ranges double as
the WAND pruning unit at query time.

``max_tfnorm`` is the max over the range of
``score.bm25_term_score(tf, 1.0, avgdl, cfg)`` — the scorers' own
clause expression at idf 1.0, and ``1.0·x`` is exact — so
``idf · max_tfnorm`` upper-bounds, bit for bit, any document's
contribution from this term within the range (SURVEY Q9).

Each row also records ``avgdl`` — the corpus avgdl the bound was
computed against. tfnorm is increasing in avgdl and the ratio
tfnorm(dl, a2)/tfnorm(dl, a1) is bounded by a2/a1 for a2 > a1 (the
k1·b·dl/avgdl term shrinks by exactly that factor and the other
denominator terms only pull the ratio toward 1), so the query-time
bound ``idf · max_tfnorm · max(1, avgdl_now/avgdl_built)`` stays a
true upper bound even when shards were built against a stale or
shard-local avgdl — pruning remains exact under appends/compaction
drift without rebuilding every bound.

At cluster scale the table is written to Iceberg partitioned by
``bucket(term)`` and sorted by (term, range_id) — query-side term
lookups prune to a handful of files. Locally it stays a DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from .build import Index
from .score import bm25_term_score


@dataclass
class BlockIndex:
    blocks: DataFrame      # (term, range_id) bound rows (schema above)
    postings: DataFrame    # the posting table the bounds summarize
    term_stats: DataFrame  # term, df, cf  (the "dictionary")
    doc_meta: DataFrame    # doc_id, conv_id, dl, ...
    corpus: DataFrame      # one row: n_docs, total_tokens, avgdl (read via score.query_stats)
    cfg: IndexConfig


def range_id(range_size: int) -> Column:
    """The doc-id range of a row's ``doc_id``: the unit of the bound
    table and of WAND's pruning."""
    return (F.col("doc_id") / F.lit(int(range_size))).cast("long")


def build_block_index(
    index: Index,
    cfg: IndexConfig = DEFAULT,
    corpus_stats: tuple[int, float] | None = None,
) -> BlockIndex:
    """The (term, range_id) bound table of an M1 postings index: one
    aggregation, no collect, no driver-side state beyond the corpus
    avgdl.

    ``corpus_stats`` = (n_docs, avgdl) overrides the stats read from
    ``index.corpus`` — sharded builds (lifecycle.build_store) pass the
    GLOBAL stats here so per-shard bounds are computed against the
    avgdl the query side will score with, not the shard-local one
    (which silently under-bounds and breaks WAND pruning exactness).
    """
    if corpus_stats is not None:
        avgdl = float(corpus_stats[1])
    else:
        avgdl = float(index.corpus.first()["avgdl"])

    blocks = (
        index.postings.groupBy("term", range_id(cfg.range_size).alias("range_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.max(bm25_term_score(F.col("tf"), F.lit(1.0), avgdl, cfg)).alias(
                "max_tfnorm"
            ),
        )
        .withColumn("avgdl", F.lit(avgdl))
    )
    return BlockIndex(
        blocks=blocks,
        postings=index.postings,
        term_stats=index.term_stats,
        doc_meta=index.doc_meta,
        corpus=index.corpus,
        cfg=cfg,
    )
