"""SPIMI-style compressed posting-block index (M2).

The capability Lucene's segment writer performed for the reference
(delegated at app/process/solr.go:171-202): turn (term, doc) postings
into compressed, skippable blocks with score-upper-bound metadata.

Layout
------
Every posting block covers ONE term within ONE doc-id range
(``range_id = doc_id // cfg.range_size``) and at most
``cfg.block_size`` documents:

    blocks(term, range_id, block_id, first_doc, last_doc, n_docs,
           sum_tf, max_tfnorm, max_score,
           doc_ids BINARY,   -- delta + varint gaps (sorted doc ids)
           tfs BINARY,       -- varint
           dls BINARY,       -- varint (doc lengths, scoring-local)
           positions BINARY) -- per-doc delta + varint token positions

Why range alignment instead of salting: the dataflow is ONE shuffle —
``repartition(term, range_id)`` + in-partition sort + a streaming
mapInArrow encoder — and a (term, range) group can never hold more
than ``range_size`` documents' postings: a stopword appearing in every
doc splits into ``n_docs / range_size`` independent groups. That
removes hot-term skew *structurally* (SURVEY §4.2-1 proposed salting +
merge; range alignment achieves the same bound with no second pass,
and the ranges double as the WAND pruning/skip unit at query time).
The encoder is mapInArrow rather than grouped-map applyInPandas
because at ~10^5-10^6 groups per build the one-pandas-DataFrame-per-
group overhead of grouped-map dominates the actual encoding.

Carrying ``dls`` inside the block denormalizes doc length into the
index (≈1 varint byte per posting) so the scorer never joins doc_meta
on the hot path — at 10^12 turns that join would shuffle the posting
table on doc_id every query.

``max_score = idf(N, df) * max(tfnorm)`` over the block is the
block-max WAND bound (SURVEY Q9); it upper-bounds any document's
contribution from this term within the block.

Each block also records ``avgdl`` — the corpus avgdl the bound was
computed against. tfnorm is increasing in avgdl and the ratio
tfnorm(dl, a2)/tfnorm(dl, a1) is bounded by a2/a1 for a2 > a1 (the
k1·b·dl/avgdl term shrinks by exactly that factor and the other
denominator terms only pull the ratio toward 1), so the query-time
bound ``idf · max_tfnorm · max(1, avgdl_now/avgdl_built)`` stays a
true upper bound even when shards were built against a stale or
shard-local avgdl — pruning remains exact under appends/compaction
drift without re-encoding every block.

At cluster scale the blocks table is written to Iceberg partitioned by
``bucket(term)`` and sorted by (term, range_id) — query-side term
lookups prune to a handful of files. Locally it stays a DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, IndexConfig
from ..functions.bm25 import tf_norm
from ..functions.codec import delta_encode, varint_encode
from .build import Index

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("range_id", T.LongType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("max_tfnorm", T.DoubleType(), False),
        T.StructField("avgdl", T.DoubleType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), False),
    ]
)


@dataclass
class BlockIndex:
    blocks: DataFrame      # compressed posting blocks (schema above)
    term_stats: DataFrame  # term, df, cf  (the "dictionary")
    doc_meta: DataFrame    # doc_id, conv_id, dl, ...
    corpus: DataFrame      # one row: n_docs, total_tokens, avgdl (read via score.query_stats)
    cfg: IndexConfig


def _encode_group(
    out: dict,
    term: str,
    range_id: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    pos_payloads: list[bytes],
    block_size: int,
    avgdl: float,
    k1: float,
    b: float,
) -> None:
    """Encode ONE (term, range) group's posting rows (sorted by doc_id)
    into blocks, appending to the column buffers. Positions are already
    delta+varint per posting (tokenizer payload); a block's position
    stream is the byte CONCATENATION of its postings' payloads — the
    codec resets deltas at posting boundaries, so no re-encode."""
    for bi, lo in enumerate(range(0, len(doc_ids), block_size)):
        hi = min(lo + block_size, len(doc_ids))
        d, t, l = doc_ids[lo:hi], tfs[lo:hi], dls[lo:hi]
        out["term"].append(term)
        out["range_id"].append(range_id)
        out["block_id"].append(bi)
        out["first_doc"].append(int(d[0]))
        out["last_doc"].append(int(d[-1]))
        out["n_docs"].append(int(hi - lo))
        out["sum_tf"].append(int(t.sum()))
        out["max_tfnorm"].append(float(np.max(tf_norm(t, l, avgdl, k1, b))))
        out["avgdl"].append(avgdl)
        out["doc_ids"].append(delta_encode(d.astype(np.uint64)))
        out["tfs"].append(varint_encode(t.astype(np.uint64)))
        out["dls"].append(varint_encode(l.astype(np.uint64)))
        out["positions"].append(b"".join(pos_payloads[lo:hi]))


def _make_block_builder(
    block_size: int, range_size: int, avgdl: float, k1: float, b: float
):
    """Partition-streaming encoder: consumes POSTING rows sorted by
    (term, range_id, doc_id) within a hash-partitioned stream and
    emits block rows for every complete group.

    This is mapInARROW, not mapInPandas and not groupBy().applyInPandas:

    - grouped-map materializes one pandas DataFrame per group, and at
      ~half a million (term, range) groups the per-group overhead
      dominates the encode (measured round 1);
    - mapInPandas converts the term column to per-row Python str
      objects. Arrow batches keep terms as a string array;
      ``dictionary_encode`` turns them into int32 codes, group
      boundaries come from vectorized code/range comparisons, and
      exactly ONE Python string materializes per (term, range) group —
      the one written to the block row. Position payloads arrive
      pre-encoded per posting and are concatenated, never re-encoded.
    """
    import pyarrow as pa

    out_fields = [
        ("term", pa.string()),
        ("range_id", pa.int64()),
        ("block_id", pa.int32()),
        ("first_doc", pa.int64()),
        ("last_doc", pa.int64()),
        ("n_docs", pa.int32()),
        ("sum_tf", pa.int64()),
        ("max_tfnorm", pa.float64()),
        ("avgdl", pa.float64()),
        ("doc_ids", pa.binary()),
        ("tfs", pa.binary()),
        ("dls", pa.binary()),
        ("positions", pa.binary()),
    ]
    arrow_schema = pa.schema(out_fields)

    def gen(batches):
        import pyarrow.compute as pc

        out: dict[str, list] = {name: [] for name, _ in out_fields}
        # open-group carry across Arrow batches
        carry: list[tuple[np.ndarray, ...]] = []
        cur_key: tuple | None = None

        def emit() -> "pa.RecordBatch":
            rb = pa.RecordBatch.from_arrays(
                [pa.array(out[name], type=typ) for name, typ in out_fields],
                schema=arrow_schema,
            )
            for k in out:
                out[k] = []
            return rb

        def close_group():
            nonlocal carry
            if cur_key is None or not carry:
                return
            dids = np.concatenate([c[0] for c in carry])
            tfs = np.concatenate([c[1] for c in carry])
            dls = np.concatenate([c[2] for c in carry])
            payloads: list[bytes] = []
            for c in carry:
                payloads.extend(c[3])
            _encode_group(
                out, cur_key[0], int(cur_key[1]), dids, tfs, dls, payloads,
                block_size, avgdl, k1, b,
            )
            carry = []

        for rb in batches:
            if rb.num_rows == 0:
                continue
            gi = rb.schema.get_field_index
            tdict = pc.dictionary_encode(rb.column(gi("term")))
            codes = tdict.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = tdict.dictionary
            dids = rb.column(gi("doc_id")).to_numpy().astype(np.int64)
            tfs = rb.column(gi("tf")).to_numpy().astype(np.int64)
            dls = rb.column(gi("dl")).to_numpy().astype(np.int64)
            payloads = rb.column(gi("pos_bytes")).to_pylist()
            # range_id derived, not transferred: one fewer value per row
            # through the expensive JVM->Python direction
            ranges = dids // np.int64(range_size)
            # group boundary where term code or range changes
            chg = np.flatnonzero(
                np.concatenate(
                    ([True], (codes[1:] != codes[:-1]) | (ranges[1:] != ranges[:-1]))
                )
            )
            ends = np.concatenate((chg[1:], [rb.num_rows]))
            for lo, hi in zip(chg, ends):
                key = (vocab[codes[lo]].as_py(), int(ranges[lo]))
                if key != cur_key:
                    close_group()
                    cur_key = key
                carry.append(
                    (dids[lo:hi], tfs[lo:hi], dls[lo:hi], payloads[lo:hi])
                )
            if len(out["term"]) >= 20_000:
                yield emit()
        close_group()
        if out["term"]:
            yield emit()

    return gen


def build_block_index(
    index: Index,
    cfg: IndexConfig = DEFAULT,
    corpus_stats: tuple[int, float] | None = None,
) -> BlockIndex:
    """Compress an M1 postings index into posting blocks.

    One shuffle: repartition on (term, range_id) with rows sorted by
    (term, range_id, doc_id) — every (term, range) run is bounded by
    ``range_size`` postings regardless of term frequency (see module
    docstring), then mapInArrow encodes the blocks with the numpy
    codec. No collect, no driver-side state beyond the corpus avgdl.

    ``corpus_stats`` = (n_docs, avgdl) overrides the stats read from
    ``index.corpus`` — sharded builds (lifecycle.build_store) pass the
    GLOBAL stats here so per-shard block bounds are computed against
    the avgdl the query side will score with, not the shard-local one
    (which silently under-bounds and breaks WAND pruning exactness).
    """
    if corpus_stats is not None:
        avgdl = float(corpus_stats[1])
    else:
        avgdl = float(index.corpus.first()["avgdl"])

    num_partitions = int(
        index.postings.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    flat = (
        index.postings.withColumn(
            "range_id", (F.col("doc_id") / F.lit(cfg.range_size)).cast("long")
        )
        # hash-cluster groups, order rows: the one shuffle of the build.
        # range_id exists only as the partition/sort key — it is NOT
        # selected into the Python transfer (derived from doc_id there).
        .repartition(num_partitions, "term", "range_id")
        .sortWithinPartitions("term", "range_id", "doc_id")
        .select("term", "doc_id", "tf", "dl", "pos_bytes")
    )
    builder = _make_block_builder(
        cfg.block_size, cfg.range_size, avgdl, cfg.k1, cfg.b
    )
    blocks = flat.mapInArrow(builder, BLOCK_SCHEMA)

    return BlockIndex(
        blocks=blocks,
        term_stats=index.term_stats,
        doc_meta=index.doc_meta,
        corpus=index.corpus,
        cfg=cfg,
    )
