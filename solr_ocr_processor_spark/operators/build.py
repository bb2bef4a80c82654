"""Inverted-index build.

The capability Solr performed for the reference (Lucene segment build,
delegated at app/process/solr.go:171-202 where pages are POSTed per
document): tokenize -> positional postings -> per-(term, range) max-score
bounds.

Two layers:

- ``build_postings`` (M1): the **posting table**
  ``postings(doc_id, term, tf, dl, pos_bytes, loc_bytes)`` plus corpus
  stats — one row per (doc, term), with that posting's token positions
  and highlight char spans pre-packed as delta+varint byte payloads by
  the tokenizer (functions/tokenizer.py::tokenize_postings). This is
  the classic IR posting as a Spark row. Positions travel as ONE
  binary value per row because Spark's JVM->Python Arrow writer costs
  ~1 µs per value regardless of type (measured). Query operators
  filter by term FIRST (dictionary pre-filter) and only then decode
  payloads; at rest
  the table is written term-bucketed so term filters prune files. The
  flat one-row-per-token view still exists (``Index.tokens``) as a
  vectorized decode for tests and post-filter query steps.

- ``build_block_index`` (operators/blocks.py, M2): the block-max
  BOUND table — one (term, range_id) row with its posting count and
  max tfnorm, what WAND prunes with — built from the posting table by
  one groupBy(term, range_id) aggregation. The postings themselves are
  not copied: WAND scores them through the shared BM25 core.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from ..functions.tokenizer import flat_tokens, tokenize_postings
from ..plans.materialize import Materialized, materialize_docs


@dataclass
class Index:
    postings: DataFrame   # doc_id, term, tf, dl, pos_bytes, loc_bytes
    doc_meta: DataFrame   # doc_id, conv_id, dl, n_turns, n_chars [, last_ts][, doc_text if full]
    term_stats: DataFrame # term, df, cf
    corpus: DataFrame     # single row: n_docs, avgdl, total_tokens
    mat: Materialized

    @property
    def tokens(self) -> DataFrame:
        """Flat positional token view (doc_id, token_pos, term,
        char_start, char_end, dl) — a vectorized DECODE of the posting
        table, for tests and for query steps that already filtered by
        term. Not a stored table."""
        return flat_tokens(self.postings)


def build_postings(
    transcripts: DataFrame,
    cfg: IndexConfig = DEFAULT,
    doc_map: DataFrame | None = None,
    n_docs_hint: int | None = None,
) -> Index:
    mat = materialize_docs(
        transcripts,
        doc_map,
        with_text=(cfg.index_type == "full"),
        n_docs_hint=n_docs_hint,
    )
    # docs feeds doc_meta; postings feed bounds, dl, and stats. Persist
    # both hubs so each subtree runs once.
    mat.docs.persist()
    # doc_partitioned: when materialize_docs broadcast the doc-id map,
    # mat.turns keeps the ordinal window's conv_id hash partitioning
    # (1:1 with doc_id) and every doc is wholly inside one partition —
    # the tokenizer's repartition(doc_id) would be a second full-table
    # shuffle for an equivalent layout. With a shuffled doc-id join the
    # guarantee is void (AQE skew splits divide partitions by map
    # ranges, not keys), so the explicit repartition stays.
    postings = tokenize_postings(
        mat.turns, cfg, doc_partitioned=mat.doc_co_located
    ).persist()

    # Doc lengths — dl is constant per doc on posting rows.
    doc_len = postings.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    doc_cols = ["doc_id", "conv_id", "n_turns", "n_chars", "last_ts"]
    if cfg.index_type == "full":
        doc_cols.append("doc_text")  # inline text (reference "full" indexing)
    doc_meta = mat.docs.select(*doc_cols).join(doc_len, "doc_id", "left").fillna(
        {"dl": 0}
    )

    # df/cf per term: ONE aggregation with map-side partial combine —
    # posting rows already carry tf, so no (term, doc) pre-agg exists.
    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )

    # Corpus stats WITHOUT the doc_len shuffle: sum(dl over docs) ==
    # sum(tf over postings) and n_docs comes from the (much smaller)
    # docs frame, so avgdl needs two tiny aggs — same longs, same
    # double division, bit-identical value. This keeps the per-doc-id
    # shuffle (doc_len above) off the bound builder's critical path:
    # its DAG pulls corpus for the 3 scalars, only scorers pull doc_meta.
    corpus = (
        mat.docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(
            postings.agg(
                F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("total_tokens")
            )
        )
        .select(
            "n_docs",
            "total_tokens",
            (F.col("total_tokens") / F.col("n_docs")).alias("avgdl"),
        )
    )

    return Index(
        postings=postings,
        doc_meta=doc_meta,
        term_stats=term_stats,
        corpus=corpus,
        mat=mat,
    )
