"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship BM25 top-k over transcripts derived from
sf0.001. ``queries()`` / ``oracle_sql()`` — one entry per implemented
operator from SURVEY.md §2, checked against DuckDB at sf0.01.

The transcripts input table (BASELINE.json input_hint) is derived
deterministically from the driver's ``documents`` table by chunking
each document into 12-word turns; the identical derivation exists as a
DuckDB CTE (sources/transcripts.py) so both sides see the same corpus.
Because turns rejoin losslessly to the original text, corpus-level
BM25 statistics can be oracle-checked directly against ``documents``.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solr_ocr_processor_spark.config import DEFAULT
from solr_ocr_processor_spark.functions.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from solr_ocr_processor_spark.operators.ann import (
    cosine_topk,
    knn_filtered_topk,
    lsh_near_dup,
)
from solr_ocr_processor_spark.operators.ann_store import (
    AnnStore,
    build_ann_store,
    ivf_topk_stored,
    lsh_topk_stored,
)
from solr_ocr_processor_spark.operators.blocks import BlockIndex, build_block_index
from solr_ocr_processor_spark.operators.dedup import (
    dup_clusters,
    embedding_near_dup,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)
from solr_ocr_processor_spark.functions.ocr_compat import (
    extract_dpi,
    fix_response,
    hocr_bbox_to_pos,
    inch1200_to_px,
    mm10_to_px,
    sniff_format,
    xml_codepoint_escape,
)
from solr_ocr_processor_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    resize_stub,
    synth_media,
)
from solr_ocr_processor_spark.operators.build import Index, build_postings
from solr_ocr_processor_spark.operators.boolean import boolean_topk
from solr_ocr_processor_spark.operators.expand import (
    fuzzy_topk,
    mlt_topk,
    prefix_topk,
    suggest_terms,
    wildcard_topk,
)
from solr_ocr_processor_spark.operators.collapse import collapse_topk, group_topk
from solr_ocr_processor_spark.operators.facet import (
    date_facet_counts,
    facet_counts,
    group_stats,
    pivot_facet_counts,
    stats_field,
)
from solr_ocr_processor_spark.operators.split import (
    deterministic_sample,
    hash_split,
)
from solr_ocr_processor_spark.operators.query import (
    boolean_not_topk,
    boosted_topk,
    conjunctive_topk,
    mm_topk,
    phrase_match,
    phrase_topk,
    sort_topk,
)
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.operators.score import (
    bm25_topk,
    highlights,
    phrase_highlights,
    phrase_snippets,
    snippets,
)
from solr_ocr_processor_spark.functions.tokenizer import (
    S_STEM_SQL_CASE,
    STOPWORDS_EN,
)
from solr_ocr_processor_spark.plans.materialize import materialize_docs, ordered_turns
from solr_ocr_processor_spark.sources.transcripts import (
    derive_transcripts,
    oracle_transcripts_cte,
)

TW = DEFAULT.turn_words
FLAGSHIP_QUERY = "spark window merge"
FLAGSHIP_TERMS = ("spark", "window", "merge")

_index_cache: dict[tuple[int, str], Index] = {}


def _index(spark: SparkSession, sf_dir: str) -> Index:
    key = (id(spark), sf_dir)
    if key not in _index_cache:
        t = derive_transcripts(spark, sf_dir, TW)
        idx = build_postings(t)
        # Persist the built index: queries read a *stored* index, they
        # don't re-run the build DAG (on a cluster this is the Iceberg
        # postings table; locally it's MEMORY_AND_DISK).
        for df in (idx.postings, idx.doc_meta, idx.term_stats, idx.corpus,
                   idx.mat.turns):
            df.persist()
        idx.postings.count()
        idx.corpus.count()  # every query's stats read scans the corpus row
        # The deferred doc-id rank is materialized by the counts above;
        # its range-partitioned parents are dead weight from here on.
        idx.mat.release_intermediates()
        _index_cache[key] = idx
    return _index_cache[key]


_bidx_cache: dict[tuple[int, str], BlockIndex] = {}


def _block_index(spark: SparkSession, sf_dir: str) -> BlockIndex:
    key = (id(spark), sf_dir)
    if key not in _bidx_cache:
        bidx = build_block_index(_index(spark, sf_dir))
        bidx.blocks.persist().count()
        _bidx_cache[key] = bidx
    return _bidx_cache[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 transcripts and
    answer a BM25 top-k query."""
    idx = _index(spark, "/root/testdata/sf0.001")
    return bm25_topk(spark, idx, FLAGSHIP_QUERY, k=10)


# ---------------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame, one per operator
# ---------------------------------------------------------------------------


def _q_doc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY B8/S9: doc materialization with dense ordinals."""
    idx = _index(spark, sf_dir)
    return idx.mat.docs.select("doc_id", "conv_id", "n_turns", "n_chars")


def _q_turn_ordinals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY B8: dense turn ordinal + char-offset payload (T4 analog)."""
    t = derive_transcripts(spark, sf_dir, TW)
    return ordered_turns(t).select(
        "conv_id", "turn_idx", "ordinal", "char_start", "char_end"
    )


def _q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q6 stats layer: df/cf per term, top 50."""
    idx = _index(spark, sf_dir)
    return idx.term_stats.orderBy(F.desc("df"), F.asc("term")).limit(50)


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q8: BM25 top-k (k1=1.2 b=0.75, Lucene idf, ties doc_id asc)."""
    idx = _index(spark, sf_dir)
    top = bm25_topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_bm25_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q8/Q9: BM25 top-k via the compressed block index with
    two-phase block-max (WAND-style) pruning — rank-identical to the
    exhaustive scorer, checked against the same SQL oracle."""
    bidx = _block_index(spark, sf_dir)
    top = wand_topk(spark, bidx, FLAGSHIP_QUERY, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


PHRASE = "table value"


def _q_conjunctive_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4: AND-of-terms — every query term required, BM25 rank."""
    idx = _index(spark, sf_dir)
    top = conjunctive_topk(spark, idx, FLAGSHIP_QUERY, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4: positional phrase match via the positions payload,
    block-range-pruned (the common terms' postings drop everywhere the
    rarest term has no block, before the doc shuffle)."""
    idx = _index(spark, sf_dir)
    return phrase_match(spark, idx, PHRASE, bidx=_block_index(spark, sf_dir))


def _q_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4/Q8: phrase query ranked Lucene-style
    (sum-idf * tfnorm(phrase_tf))."""
    idx = _index(spark, sf_dir)
    top = phrase_topk(spark, idx, PHRASE, k=10, bidx=_block_index(spark, sf_dir))
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


PROX_SLOP = 2


def _q_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (full grammar): sloppy phrase ``"table value"~2`` —
    Lucene SloppyPhraseQuery's ordered-window slop over the positions
    payload (greedy nearest-next chaining kernel, exact; see
    operators/query.py::_proximity_counts), ranked like phrase_topk."""
    from solr_ocr_processor_spark.operators.query import proximity_topk

    idx = _index(spark, sf_dir)
    top = proximity_topk(
        spark, idx, PHRASE, slop=PROX_SLOP, k=10, bidx=_block_index(spark, sf_dir)
    )
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


RERANK_WINDOW, RERANK_WEIGHT = 40, 2.0


def _q_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ReRank query parser (``rq={!rerank reRankQuery=...
    reRankDocs=40 reRankWeight=2}``): the flagship BM25 ranking's top
    40 docs rescored as original + 2 * sloppy-phrase score of
    ``"table value"~2`` — the positional pass touches only the window
    (operators/query.py::rerank_topk)."""
    from solr_ocr_processor_spark.operators.query import rerank_topk

    idx = _index(spark, sf_dir)
    top = rerank_topk(
        spark, idx, FLAGSHIP_QUERY, PHRASE, slop=PROX_SLOP,
        window=RERANK_WINDOW, weight=RERANK_WEIGHT, k=10,
    )
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_boolean_not_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4/A9: positive AND NOT negative — BM25 over positives,
    anti-joined against docs containing the negative term."""
    idx = _index(spark, sf_dir)
    top = boolean_not_topk(spark, idx, "spark window", "merge", k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


BOOL_QUERY = "spark AND (window OR table) NOT merge"


def _q_boolean_nested_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (full grammar): nested boolean composition
    ``spark AND (window OR table) NOT merge`` — the Lucene-syntax
    surface the reference delegates to Solr (solr.go:48-49), compiled
    to ONE posting scan + per-doc presence flags + codegen predicate."""
    idx = _index(spark, sf_dir)
    top = boolean_topk(spark, idx, BOOL_QUERY, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


PREFIX_Q = "s*"  # -> scan, slow, small, sort, spark, stream at sf0.01
FUZZY_Q, FUZZY_EDITS = "bag", 2  # -> big(d1), agg(d2), a(d2) at sf0.01


def _q_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (rewrite surface): Lucene PrefixQuery analog —
    dictionary expansion of ``s*`` capped at top-50 by (df DESC, term
    ASC), then disjunctive BM25 over the expansion set
    (operators/expand.py)."""
    idx = _index(spark, sf_dir)
    top = prefix_topk(spark, idx, PREFIX_Q, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (rewrite surface): Lucene FuzzyQuery analog —
    dictionary terms within 2 Levenshtein edits of ``bag``, same
    deterministic cap + disjunctive BM25."""
    idx = _index(spark, sf_dir)
    top = fuzzy_topk(spark, idx, FUZZY_Q, k=10, max_edits=FUZZY_EDITS)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


WILDCARD_Q = "s?a*"  # -> scan, spark, small, slack-shaped terms at sf0.01


def _q_wildcard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (rewrite surface): Lucene WildcardQuery analog —
    wildcards in ANY position (``s?a*``), dictionary expansion via SQL
    LIKE (identical semantics in Spark codegen and the DuckDB oracle),
    top-50 cap by (df DESC, term ASC), disjunctive BM25
    (operators/expand.py::wildcard_topk)."""
    idx = _index(spark, sf_dir)
    top = wildcard_topk(spark, idx, WILDCARD_Q, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


REGEXP_Q = "sp[a-z]*k"  # anchored: spark-like dictionary terms


def _q_regexp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (rewrite surface): Lucene RegexpQuery ``/re/`` —
    implicitly anchored dictionary expansion under the dialect-shared
    regex subset (same language to Spark rlike and DuckDB
    regexp_matches), top-50 cap by (df DESC, term ASC), disjunctive
    BM25 (operators/expand.py::regexp_topk)."""
    from solr_ocr_processor_spark.operators.expand import regexp_topk

    idx = _index(spark, sf_dir)
    top = regexp_topk(spark, idx, REGEXP_Q, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


MM = 2  # flagship minimum-should-match threshold (of 3 terms)


def _q_mm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr (e)dismax ``mm=`` analog: docs matching at least 2 of the
    3 flagship terms, BM25-ranked — the gate rides the scoring
    aggregation's own match count (operators/query.py::mm_topk)."""
    idx = _index(spark, sf_dir)
    top = mm_topk(spark, idx, FLAGSHIP_QUERY, mm=MM, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


GROUP_K, GROUP_LIMIT = 5, 2  # top-5 groups, 2 docs each


def _q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr result grouping (``group=true&group.limit=2``): the top-5
    dl-bucket groups by best-doc relevance, each with its own top-2
    docs and in-group rank (operators/collapse.py::group_topk)."""
    idx = _index(spark, sf_dir)
    out = group_topk(
        spark, idx, FLAGSHIP_QUERY, width=64, k=GROUP_K, group_limit=GROUP_LIMIT
    )
    return out.select(
        "group", "doc_id", "conv_id", F.round("score", 6).alias("score"), "rn"
    )


BOOST_HALF_LIFE_DAYS = 0.01  # ~14 min — comparable to the synthetic ts spread


def _q_boosted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr boost-function analog (``boost=recip(ms(NOW,date),…)``):
    flagship BM25 multiplied by a recency decay of the build-time
    ``last_ts`` doc-values column, NOW = corpus max(last_ts) so the
    ranking is wall-clock-free and oracle-replayable
    (operators/query.py::boosted_topk)."""
    idx = _index(spark, sf_dir)
    top = boosted_topk(
        spark, idx, FLAGSHIP_QUERY, half_life_days=BOOST_HALF_LIFE_DAYS, k=10
    )
    return top.select(
        "doc_id",
        "conv_id",
        F.round("score", 6).alias("score"),
        F.round("boosted", 6).alias("boosted"),
    )


def _q_paged_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``start=`` analog: PAGE TWO (rows 10..19) of the flagship
    ranking — offset+limit lower into one TakeOrderedAndProject and the
    (score DESC, doc_id ASC) total order keeps pages stable."""
    idx = _index(spark, sf_dir)
    top = bm25_topk(spark, idx, FLAGSHIP_QUERY, k=10, start=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``sort=`` analog: docs matching ANY flagship term ordered
    by doc length (dl DESC, doc_id ASC) instead of relevance
    (operators/query.py::sort_topk)."""
    idx = _index(spark, sf_dir)
    return sort_topk(spark, idx, FLAGSHIP_QUERY, by="dl", k=10)


MLT_DOC, MLT_TERMS = 7, 5  # seed doc + term cap for the MLT driver query
# analysis-chain debug input: exercises stop removal (the/into), every
# s_stem rule (engines->engine es-rule, windows->window s-rule,
# batches->batche es-rule) and a protected word (miss: ss-exception)
ANALYSIS_TEXT = "The Spark engines merged the windows into batches not a miss"


def _q_mlt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr MoreLikeThis analog: docs most similar to doc 7 via its
    top-5 tf·idf terms, disjunctive BM25, seed excluded
    (operators/expand.py::mlt_topk)."""
    idx = _index(spark, sf_dir)
    top = mlt_topk(spark, idx, MLT_DOC, k=10, max_query_terms=MLT_TERMS)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_suggest_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr suggester analog: dictionary completions of ``s`` ranked
    (df DESC, term ASC) — the ranked completion list itself."""
    idx = _index(spark, sf_dir)
    return suggest_terms(spark, idx, "s", n=10)


def _q_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet analog: histogram of the docs matching ANY flagship
    term, range-bucketed by doc length (operators/facet.py) — the
    aggregation runs on posting rows only, no doc-table join."""
    idx = _index(spark, sf_dir)
    return facet_counts(spark, idx, FLAGSHIP_QUERY, width=64)


def _q_date_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``facet.range`` over a DATE field: matching docs bucketed
    by their build-time ``last_ts`` doc-values column (10-minute gap,
    epoch-aligned buckets — operators/facet.py)."""
    idx = _index(spark, sf_dir)
    return date_facet_counts(spark, idx, FLAGSHIP_QUERY, gap_minutes=10)


def _q_pivot_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``facet.pivot`` analog: two-level counts of the matching
    docs, dl-bucket x 10-minute last_ts bucket — the dl key rides the
    scoring-side aggregation, the date key joins doc_meta once
    (operators/facet.py::pivot_facet_counts)."""
    idx = _index(spark, sf_dir)
    return pivot_facet_counts(spark, idx, FLAGSHIP_QUERY, width=64, gap_minutes=10)


def _q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``stats.facet`` analog: the stats.field summary computed
    per dl-bucket of the matching docs — group key rides the match
    aggregation, one doc_meta join for the stats field
    (operators/facet.py::group_stats)."""
    idx = _index(spark, sf_dir)
    return group_stats(spark, idx, FLAGSHIP_QUERY, width=64)


def _q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by doc-id hash —
    content-addressed (rerun-stable, append-stable, engine-portable),
    map-only codegen (operators/split.py::hash_split)."""
    return hash_split(_docs(spark, sf_dir).select("doc_id")).select(
        "doc_id", "split"
    )


def _q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% subsample by the same id hash — nested with
    smaller fractions (scaling-law subsets), partition-independent
    (operators/split.py::deterministic_sample)."""
    return deterministic_sample(_docs(spark, sf_dir).select("doc_id"), 0.10)


MIX_RATES = {"en": 0.5, "und": 0.9, "fr": 1.0}


def _q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain-mixture sampling: domains from the lang-ID map
    stage, per-domain keep rates applied content-addressed (md5
    uniform) — the pretraining mixture knob, map-only and fully
    oracle-replayable (operators/split.py::mixture_sample)."""
    from solr_ocr_processor_spark.operators.split import mixture_sample

    d = _docs(spark, sf_dir)
    dom = lang_id(d).select("doc_id", F.col("lang_pred").alias("dom"))
    return mixture_sample(dom, MIX_RATES, "dom").select("doc_id", "dom")


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (budget 128, 8 content-
    addressed buckets): the trainer-facing layout step — one hash
    exchange + window cumsum + explode, documents may straddle pack
    boundaries (operators/split.py::pack_sequences)."""
    from solr_ocr_processor_spark.operators.split import pack_sequences

    d = token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    return pack_sequences(d, budget=128, n_buckets=8)


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over deterministically planted PII (the synthetic
    corpus carries none, so the query composes inject + redact; the
    oracle replays both): ordered regexp_replace chain with per-class
    counts, map-only (functions/redact.py::redact_pii)."""
    from solr_ocr_processor_spark.functions.redact import redact_pii

    d = _docs(spark, sf_dir)
    planted = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("contact qa.bot+1@corp.example.org "), "text"),
        )
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("call 555-867-5309 "), "text"))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("host 192.168.0.1 "), "text"))
        .otherwise(F.col("text"))
    )
    return redact_pii(d.select("doc_id", planted.alias("text")))


def _q_stats_dl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr stats component (``stats.field=dl``): one-row numeric
    summary of the matching docs' lengths."""
    idx = _index(spark, sf_dir)
    return stats_field(spark, idx, FLAGSHIP_QUERY, field="dl")


def _q_collapse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!collapse field=...}``: top-10 with at most one doc per
    dl-bucket — each bucket's champion picked by (score DESC, doc_id
    ASC) before the global page (operators/collapse.py)."""
    idx = _index(spark, sf_dir)
    top = collapse_topk(spark, idx, FLAGSHIP_QUERY, width=64, k=10)
    return top.select(
        "group", "doc_id", "conv_id", F.round("score", 6).alias("score")
    )


def _q_spellcheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck (did-you-mean): closest dictionary terms to the
    misspelling 'windoe' by (edit distance ASC, df DESC, term ASC) —
    operators/expand.spellcheck_terms."""
    from solr_ocr_processor_spark.operators.expand import spellcheck_terms

    idx = _index(spark, sf_dir)
    return spellcheck_terms(spark, idx, "windoe", n=5, max_edits=2)


def _q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``fq=`` analog: flagship BM25 restricted to docs with
    dl in [40, 120] — the filter narrows the match set but never the
    scoring stats (idf stays global), so scores equal the unfiltered
    ranking's (operators/query.filtered_topk)."""
    from solr_ocr_processor_spark.operators.query import filtered_topk

    idx = _index(spark, sf_dir)
    top = filtered_topk(spark, idx, FLAGSHIP_QUERY, "dl:[40 TO 120]", k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_frange_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!frange l=0.9 u=1.1}div(dl,avgdl)``: flagship BM25
    restricted to near-average-length docs — the range gates a
    *computed function* of doc values (operators/query.frange_topk);
    scoring stats stay global, same fq discipline as filtered_topk."""
    from solr_ocr_processor_spark.operators.query import frange_topk

    idx = _index(spark, sf_dir)
    top = frange_topk(spark, idx, FLAGSHIP_QUERY, "div(dl, avgdl)", 0.9, 1.1, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window rollup over the events table — the
    streaming module's monitoring aggregation run in batch mode (the
    SAME plan serves readStream; watermark no-ops here), so the
    windowed-agg semantics get a DuckDB oracle instead of only a
    rows-only check (streaming/ingest.events_per_window)."""
    from solr_ocr_processor_spark.streaming.ingest import events_per_window

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events_per_window(events, window="1 hour").orderBy(
        "window_start", "event_type"
    )


def _q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window / 30min slide): each
    event in 2 overlapping buckets — the trailing-aggregate shape
    (streaming/ingest.events_per_sliding_window; watermark no-ops in
    batch so the semantics get a full oracle)."""
    from solr_ocr_processor_spark.streaming.ingest import (
        events_per_sliding_window,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events_per_sliding_window(events).orderBy(
        "window_start", "event_type"
    )


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SESSION windows per user (gap 8h) — the session half
    of the streaming-window surface (streaming/ingest.sessionize_events;
    the same plan serves readStream with watermark-bounded state). The
    DuckDB twin replays sessions as the classic gaps-and-islands
    rewrite, so Spark's session_window merge semantics are hash-checked
    against the LAG formulation."""
    from solr_ocr_processor_spark.streaming.ingest import sessionize_events

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_events(events, gap="8 hours").orderBy(
        "user_id", "session_start"
    )


def _q_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /terms component: regex + mincount dictionary enumeration
    (operators/terms.terms_enum) — a |vocab|-row codegen scan, never
    the postings."""
    from solr_ocr_processor_spark.operators.terms import terms_enum

    idx = _index(spark, sf_dir)
    return terms_enum(spark, idx, regex="s[a-z]*", mincount=2, limit=20)


def _q_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /tvrh TermVectors component: one document's term vector
    with in-doc tf, corpus df, and the classic tf*ln(N/df) weight
    (integer-scaled) — an O(|doc terms|) doc_id point read."""
    from solr_ocr_processor_spark.operators.terms import term_vectors

    idx = _index(spark, sf_dir)
    return term_vectors(spark, idx, "c00000003")


def _q_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr {!join} query parser: BM25 top-k admitted through a
    dimension-table filter (source:src7 on the documents dimension) —
    a pushed-down dim predicate, broadcast key set, left-semi join
    into the scoring plan; idf stays global (operators/query.join_topk)."""
    from solr_ocr_processor_spark.operators.query import join_topk

    idx = _index(spark, sf_dir)
    top = join_topk(
        spark, idx, FLAGSHIP_QUERY, _docs(spark, sf_dir), "source:src7", k=10
    )
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 + exact-cosine top-50 fused by
    Reciprocal Rank Fusion (operators/hybrid.rrf_fusion_topk) — the
    score-free lexical+vector fusion of a production hybrid stack;
    both legs are bounded index probes, fusion is a 50-row join."""
    from solr_ocr_processor_spark.operators.hybrid import rrf_fusion_topk

    idx = _index(spark, sf_dir)
    return rrf_fusion_topk(
        spark,
        idx,
        _embs(spark, sf_dir),
        FLAGSHIP_QUERY,
        _qvec(spark, sf_dir),
        k=10,
        window=50,
    )


def _q_lm_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-filter stage: per-doc negative log-likelihood under
    the corpus unigram LM (functions/lm.doc_nll) — integer-scaled
    per-term log-probs make the doc aggregate an exact integer on
    both engines; avg_nll is monotone in perplexity."""
    from solr_ocr_processor_spark.functions.lm import doc_nll

    return doc_nll(_docs(spark, sf_dir))


_BATCH_QUERIES = {"q1": FLAGSHIP_QUERY, "q2": "spark", "q3": "window merge"}


def _q_fragment_snippets_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr hl.snippets=N analog (operators/score.
    fragment_snippets_multi): the top-2 RANKED passages per top-5
    doc — hit clusters by gaps-and-islands (gap > 2·frag_words), each
    passage scored by the integer-scaled idf mass of its visible
    hits, ranked (score DESC, turn_idx, anchor) per doc."""
    from solr_ocr_processor_spark.operators.score import fragment_snippets_multi

    idx = _index(spark, sf_dir)
    s = fragment_snippets_multi(
        spark, idx, FLAGSHIP_QUERY, k=5, frag_words=3, n_snippets=2
    )
    return s.select(
        "doc_id", "conv_id", "turn_idx", "frag_rank",
        "passage_score_scaled", "fragment",
    )


def _q_bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload batching (operators/score.bm25_batch_topk): top-k for
    a whole query set in ONE postings pass — union-term dictionary
    filter, broadcast (query_id, term) map, one (query, doc) fold
    (bit-identical to bm25_topk), per-query rank window."""
    from solr_ocr_processor_spark.operators.score import bm25_batch_topk

    out = bm25_batch_topk(spark, _index(spark, sf_dir), _BATCH_QUERIES, k=5)
    return out.select(
        "query_id", "rank", "doc_id", "conv_id",
        F.round("score", 6).alias("score"),
    )


def _q_fragment_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr hl.fragsize analog (operators/score.fragment_snippets):
    bounded token-window fragments (3 words either side of the first
    hit, clamped to the turn, ellipses on trimmed sides) instead of
    whole-turn snippets — the page a UI actually shows."""
    from solr_ocr_processor_spark.operators.score import fragment_snippets

    idx = _index(spark, sf_dir)
    s = fragment_snippets(spark, idx, FLAGSHIP_QUERY, k=5, frag_words=3)
    return s.select("conv_id", "turn_idx", "fragment")


def _q_function_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr fl= pseudo-fields (fl=*,score,termfreq(text,'spark'),
    docfreq(text,'spark'),norm(text)): the BM25 page decorated with
    per-doc function-query values, every join O(k) after the top-k
    (operators/terms.function_fields)."""
    from solr_ocr_processor_spark.operators.terms import function_fields

    idx = _index(spark, sf_dir)
    out = function_fields(spark, idx, FLAGSHIP_QUERY, FLAGSHIP_TERMS[0], k=10)
    return out.select(
        "doc_id", "conv_id", F.round("score", 6).alias("score"),
        "tf_term", "df_term", "dl",
    )


def _q_group_sorted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr group.sort: within-group order by dl ASC while group
    ranking stays by each group's best score (the main sort) —
    operators/collapse.group_topk(group_sort=\"dl asc\")."""
    from solr_ocr_processor_spark.operators.collapse import group_topk

    idx = _index(spark, sf_dir)
    out = group_topk(
        spark, idx, FLAGSHIP_QUERY, width=64, k=GROUP_K,
        group_limit=GROUP_LIMIT, group_sort="dl asc",
    )
    return out.select(
        "group", "doc_id", "conv_id", F.round("score", 6).alias("score"), "rn"
    )


def _q_collapse_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ExpandComponent (expand=true&expand.rows=2): the collapsed
    page plus each page group's next 2 hidden docs — one scoring pass
    and one group-rank window serve both halves
    (operators/collapse.collapse_expand)."""
    from solr_ocr_processor_spark.operators.collapse import collapse_expand

    idx = _index(spark, sf_dir)
    out = collapse_expand(
        spark, idx, FLAGSHIP_QUERY, width=64, k=5, expand_rows=2
    )
    return out.select(
        "group", "doc_id", "conv_id", F.round("score", 6).alias("score"),
        "expanded",
    )


def _q_group_ngroups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr group.ngroups: how many groups the flagship match set
    spans (operators/facet.group_ngroups) — one count-distinct over
    the dl-bucket keys, partial-distinct map-side."""
    from solr_ocr_processor_spark.operators.facet import group_ngroups

    return group_ngroups(spark, _index(spark, sf_dir), FLAGSHIP_QUERY, width=64)


def _q_tool_facet_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.field=tool&facet.missing=true over the transcripts'
    nullable tool field: per-value counts in Solr count order plus the
    NULL bucket (operators/facet.field_facet_counts)."""
    from solr_ocr_processor_spark.operators.facet import field_facet_counts

    return field_facet_counts(derive_transcripts(spark, sf_dir, TW), "tool")


def _q_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-weighted BM25 (edismax qf=assistant^2 user^1 analog,
    operators/bm25f.bm25f_topk): per-role length norms, weighted tf
    summed across fields, saturation applied once to the weighted
    sum — Lucene's multi-field ranking over the transcript roles."""
    from solr_ocr_processor_spark.operators.bm25f import bm25f_topk

    t = derive_transcripts(spark, sf_dir, TW)
    return bm25f_topk(
        t, list(FLAGSHIP_TERMS), {"assistant": 2.0, "user": 1.0}, k=10
    )


def _q_lm_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-shape perplexity: per-doc NLL under a self-trained
    bigram LM with stupid backoff (functions/lm.doc_bigram_nll).
    First token scores by unigram, later tokens by the conditional
    bigram; the bigram join is the one deliberately non-broadcast
    join in the LM family (|bigram vocab| is not a broadcast dim)."""
    from solr_ocr_processor_spark.functions.lm import doc_bigram_nll

    return doc_bigram_nll(_docs(spark, sf_dir))


def _q_stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr stats.percentiles: exact interpolated dl quantiles over the
    flagship query's match set (operators/facet.stats_percentiles) —
    Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    (n-1)*p linear-interpolation definition."""
    from solr_ocr_processor_spark.operators.facet import stats_percentiles

    idx = _index(spark, sf_dir)
    return stats_percentiles(spark, idx, FLAGSHIP_QUERY, field="dl")


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitmap decontamination (operators/pipeline.
    bloom_contamination_flags): the eval split digests to a 2^16-bit
    filter (driver traffic bounded by m bits, NOT eval size); corpus
    probes are map-only codegen. The DuckDB twin recomputes the
    set-bit set relationally, so the hash check covers the Bloom
    semantics INCLUDING any false positives."""
    from solr_ocr_processor_spark.operators.pipeline import (
        bloom_contamination_flags,
    )

    s = hash_split(_docs(spark, sf_dir))
    out = bloom_contamination_flags(
        s.where("split = 'train'"), s.where("split = 'test'"), n=3
    )
    return out.select(
        "doc_id", "n_bloom_hits", F.col("flagged").cast("int").alias("flagged")
    )


def _q_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup at 8-token window granularity
    (operators/dedup.dup_span_profile): per doc, how many distinct
    k-windows and how many occur verbatim in other documents — the
    hashed-window form of suffix-array training-data dedup."""
    from solr_ocr_processor_spark.operators.dedup import dup_span_profile

    return dup_span_profile(_docs(spark, sf_dir), k=8)


def _q_dup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup REMOVE step (operators/dedup.span_trim):
    every cross-doc-duplicated >= 8-token span cut out of every doc;
    (doc_id, n_tokens, n_removed, kept_text) for all docs."""
    from solr_ocr_processor_spark.operators.dedup import span_trim

    return span_trim(_docs(spark, sf_dir), k=8)


def _q_membership_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q1/A7: GET membership check — EXISTS semantics via
    left-semi-style lookup on the doc-meta table."""
    idx = _index(spark, sf_dir)
    probes = spark.createDataFrame(
        [("c00000001",), ("c00000007",), ("cNOPE",)], "conv_id string"
    )
    hit = idx.doc_meta.select("conv_id").distinct().withColumn("present", F.lit(1))
    return probes.join(hit, "conv_id", "left").select(
        "conv_id", F.coalesce("present", F.lit(0)).alias("present")
    )


def _q_projection_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q2: projection + hard row cap (reference rows=600)."""
    idx = _index(spark, sf_dir)
    return (
        idx.doc_meta.select("conv_id", "n_chars")
        .where(F.col("conv_id") < "c00000600")
        .orderBy("conv_id")
        .limit(600)
    )


def _q_delete_by_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q3/A9: delete-by-query as anti-join — docs remaining after
    deleting every conv whose doc_id % 10 == 3."""
    idx = _index(spark, sf_dir)
    victims = idx.doc_meta.where(F.col("doc_id") % 10 == 3).select("conv_id")
    return (
        idx.doc_meta.join(victims, "conv_id", "left_anti")
        .select("doc_id", "conv_id")
    )


def _q_highlight_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10: per-turn highlight char spans for the flagship query's
    top-5 docs — the IIIF snippet-coordinate analog."""
    idx = _index(spark, sf_dir)
    h = highlights(spark, idx, FLAGSHIP_QUERY, k=5)
    return h.select(
        "conv_id", "turn_idx", "term", "start_in_turn", "end_in_turn"
    )


def _q_phrase_highlight_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10 (phrase form): ONE span per phrase occurrence — first
    term's start to last term's end — clipped per overlapped turn, for
    the top-5 phrase-ranked docs (solr-ocrhighlighting's headline
    capability is exactly phrase-hit region coordinates)."""
    idx = _index(spark, sf_dir)
    h = phrase_highlights(
        spark, idx, PHRASE, k=5, bidx=_block_index(spark, sf_dir)
    )
    return h.select("conv_id", "turn_idx", "start_in_turn", "end_in_turn")


def _q_phrase_snippet_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10/Q11 (phrase form): rendered snippet text with each
    phrase occurrence wrapped as ONE <em>...</em> region (inner spaces
    included), turns resolved via the lazy content pointer for the
    top-5 phrase-ranked docs only."""
    idx = _index(spark, sf_dir)
    sn = phrase_snippets(
        spark, idx, PHRASE, k=5, bidx=_block_index(spark, sf_dir)
    )
    return sn.select("conv_id", "turn_idx", "snippet")


def _q_snippet_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10/Q11: rendered snippet text for the flagship query's
    top-5 docs — matched turns resolved via the lazy content pointer
    with every hit wrapped in Solr's default <em> markers (the
    user-visible half of the reference's snippet capability)."""
    idx = _index(spark, sf_dir)
    s = snippets(spark, idx, FLAGSHIP_QUERY, k=5)
    return s.select("conv_id", "turn_idx", "snippet")


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / ANN / text stats / multimodal)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _qvec(spark: SparkSession, sf_dir: str) -> list:
    return list(_embs(spark, sf_dir).where("vec_id = 0").first()["embedding"])


_ann_cache: dict[tuple[int, str], AnnStore] = {}


def _ann_store(spark: SparkSession, sf_dir: str) -> AnnStore:
    """Persisted ANN index over the sf embeddings (built once per
    session, like _index/_block_index): queries PROBE the stored
    bucket/list partitions instead of re-running the full-corpus
    assignment — the stored-Solr-core analog (solr.go:100-124)."""
    key = (id(spark), sf_dir)
    if key not in _ann_cache:
        import atexit
        import os
        import re
        import shutil

        tag = re.sub(r"[^A-Za-z0-9.]", "_", sf_dir.strip("/"))
        # pid-scoped: two processes on the same sf_dir (bench + oracle
        # check) must not overwrite each other's store mid-probe; the
        # atexit hook reclaims the per-process directory.
        root = f"/tmp/spark_graft_ann_{tag}_{os.getpid()}"
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _ann_cache[key] = build_ann_store(
            spark, _embs(spark, sf_dir), root, dim=64
        )
    return _ann_cache[key]


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 hash-groupBy groups, canonical = min doc_id."""
    return exact_dup_groups(_docs(spark, sf_dir)).select(
        "doc_id", "group_size", F.col("is_canonical").cast("int").alias("is_canonical")
    )


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram-shingle Jaccard near-dup pairs >= 0.3."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, tau=0.3)


def _q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(32x4) near-dup pairs, exact-verified — output
    matches the exact join above (recall ~1 above jaccard 0.75)."""
    return minhash_lsh_pairs(_docs(spark, sf_dir), n=3, tau=0.3)


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup families -> canonical representative: connected
    components (iterative min-label propagation, one shuffle/round)
    over the MinHash+LSH verified pair graph — the keep-one
    materialization step of the dedup pipeline
    (operators/dedup.dup_clusters). The DuckDB twin replays the same
    components as a recursive reachability closure."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, tau=0.3)
    out = dup_clusters(docs.select("doc_id"), pairs)
    return out.select(
        "doc_id",
        "rep_id",
        "cluster_size",
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


_stream_dedup_runs = [0]  # memory-sink names must be session-unique


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState):
    first-occurrence-wins exact dedup over a document stream, state =
    one seen-flag per content hash (streaming/dedup.dedup_doc_stream).
    Run here as a single-batch availableNow replay over the static
    documents table, which the module proves equals the BATCH keep-one
    (min doc_id per md5 hash) — so the stateful operator gets a full
    DuckDB hash-check, not a rows-only pass."""
    import tempfile

    _stream_dedup_runs[0] += 1
    name = f"stream_dedup_sink_{_stream_dedup_runs[0]}"
    path = f"{sf_dir}/documents.parquet"
    if os.path.isfile(path):
        # the file streaming source requires a directory basePath; a
        # glob (here: last char as a one-char class) makes Spark
        # resolve the parent as basePath and match just this file
        path = path[:-1] + f"[{path[-1]}]"
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(path)
    from solr_ocr_processor_spark.streaming.dedup import dedup_doc_stream

    q = (
        dedup_doc_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_sdedup_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name).select("id", "text_hash")


_stream_near_dedup_runs = [0]


def _q_stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate gate (streaming/dedup.
    near_dedup_doc_stream): foreachBatch incremental MinHash against
    the persisted admitted-document store — the rolling-ingest shape
    of incremental_dedup as a live stream. Replayed here as one
    availableNow batch (new = doc_id%5==0 as the stream source, the
    rest pre-seeded as the store), which the module contract makes
    equal to the batch incremental operator — so the stream gets the
    same FULL DuckDB oracle as incremental_dedup, not a rows-only
    pass. Same candidate-recall data-dependence note as that query
    (LSH bands vs the exact-join oracle)."""
    import shutil
    import tempfile

    from solr_ocr_processor_spark.streaming.dedup import near_dedup_doc_stream

    _stream_near_dedup_runs[0] += 1
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="snd_")
    try:
        src, store, out = (os.path.join(root, d) for d in ("src", "store", "out"))
        docs.where(F.col("doc_id") % 5 == 0).write.parquet(src)
        docs.where(F.col("doc_id") % 5 != 0).write.parquet(store)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            near_dedup_doc_stream(stream, store, out)
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.read.parquet(out).select(
            "doc_id", "dup_of", "jaccard"
        ).collect()
        return spark.createDataFrame(
            rows, "doc_id long, dup_of long, jaccard double"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_corpus_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus export: near-dup keep-one
    (connected components over the MinHash+LSH verified pairs) ->
    quality >= 0.5 -> lang == 'en' -> 90/5/5 content-addressed split,
    as ONE declarative plan (operators/pipeline.corpus_export). The
    DuckDB twin replays the whole composition, so the export itself —
    not just its stages — is correctness-gated."""
    from solr_ocr_processor_spark.operators.pipeline import corpus_export

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, tau=0.3)
    return corpus_export(docs, pairs, min_quality=0.5, lang="en")


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3-style n-gram rule, n=3 at this
    doc length): flag every TRAIN-split doc sharing a word n-gram with
    any TEST-split doc — eval shingles broadcast, corpus side stays
    map-only (operators/pipeline.contamination_flags). Composes the
    split and shingle operators, both already oracle-gated."""
    from solr_ocr_processor_spark.operators.pipeline import contamination_flags

    s = hash_split(_docs(spark, sf_dir))
    out = contamination_flags(
        s.where("split = 'train'"), s.where("split = 'test'"), n=3
    )
    return out.select(
        "doc_id", "n_hits", F.col("contaminated").cast("int").alias("contaminated")
    )


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (md5 term hashes, tf-weighted)."""
    return simhash64(_docs(spark, sf_dir))


def _q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming<=3 SimHash pairs via 15-bit-band LSH (4 bands > radius
    3 => candidate recall is exact by pigeonhole), popcount-verified."""
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def _q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs >= 0.45 (exact all-pairs)."""
    return embedding_near_dup(_embs(spark, sf_dir), tau=0.45)


def _q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    return cosine_topk(_embs(spark, sf_dir), _qvec(spark, sf_dir), k=10)


def _q_knn_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr 9 {!knn f=embedding topK=10} with two fq pre-filters:
    label:2 on the vector table itself (a pushed parquet scan filter)
    and lang:en living on documents (broadcast LEFT SEMI join of the
    passing doc ids). Pre-filter semantics: top-k is taken over the
    survivors, so all 10 hits satisfy both filters."""
    allowed = _docs(spark, sf_dir).where("lang = 'en'").select("doc_id")
    return knn_filtered_topk(
        _embs(spark, sf_dir),
        _qvec(spark, sf_dir),
        k=10,
        predicate=F.col("label") == 2,
        allowed_ids=allowed,
    )


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (16 md5-rank centroids, nprobe=4) over
    the PERSISTED list table — the probe reads only the 4 probed
    list_id partitions (partition pruning), never the corpus. Fully
    deterministic: the DuckDB oracle replays centroid selection, list
    assignment, probe choice, and the exact re-rank."""
    return ivf_topk_stored(
        spark, _ann_store(spark, sf_dir), _qvec(spark, sf_dir), k=10, nprobe=4
    )


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-10 with md5-derived planes over
    the PERSISTED bucket table — multi-probe radius 1: each of the 8
    bands probes its query bucket plus the 8 Hamming-1 neighbors (72
    partition-pruned point reads, never a corpus scan). Bucketing +
    re-rank replayed exactly by the DuckDB oracle."""
    return lsh_topk_stored(
        spark, _ann_store(spark, sf_dir), _qvec(spark, sf_dir), k=10
    )


def _q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized ANN (operators/ann.int8_topk): candidates ranked
    by quantized cosine over the 4x-compressed table — INTEGER dot
    products, so candidate order is exact arithmetic on both engines —
    then an exact float rerank of the k*refine winners. The storage
    path a 10^9-vector corpus actually scans."""
    from solr_ocr_processor_spark.operators.ann import int8_topk

    return int8_topk(_embs(spark, sf_dir), _qvec(spark, sf_dir), k=10, refine=4)


def _q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/ann.pq_topk, Jégou et al.
    2011): md5-rank deterministic codebooks, per-subspace argmin
    encode (one Arrow kernel, no shuffle), ADC distance as an m-term
    JVM table-lookup sum over the codes array, exact cosine rerank of
    the k*refine winners — the m-bytes-per-vector storage path."""
    from solr_ocr_processor_spark.operators.ann import pq_topk

    return pq_topk(_embs(spark, sf_dir), _qvec(spark, sf_dir), k=10, refine=4)


def _q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned embedding near-dup (the sub-quadratic scale path for
    dedup_embedding_cosine, 8x8 banding = ~3% random-pair candidates):
    bucket-join candidates, codegen cosine verify — bucketing,
    candidates, AND the partial recall at this weak threshold are all
    replayed exactly by the oracle (see lsh_near_dup docstring for the
    regime analysis)."""
    return lsh_near_dup(_embs(spark, sf_dir), dim=64, tau=0.45)


def _q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(_docs(spark, sf_dir))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(_docs(spark, sf_dir))


def _q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(_docs(spark, sf_dir))


def _q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir))


def _q_text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword piece counting (functions/textstats.
    token_count_bpe): the GPT-2 pre-tokenizer split rule as an
    engine-portable regex — the piece count a pipeline budgets
    packing/mixtures by, next to the word count."""
    from solr_ocr_processor_spark.functions.textstats import token_count_bpe

    return token_count_bpe(_docs(spark, sf_dir))


def _q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (distinct-token
    fraction, top-2/3-gram occupancy) — one tokenization, two
    map-side-combinable aggregations, zero UDFs/joins."""
    from solr_ocr_processor_spark.functions.textstats import repetition_profile

    return repetition_profile(_docs(spark, sf_dir))


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction (decode stubbed; Arrow-batched
    mapInPandas plumbing real). Checksum excluded from the oracle
    columns (DuckDB lacks md5-over-blob); covered in pytest."""
    m = synth_media(_docs(spark, sf_dir))
    return extract_features(m).select(
        "media_id", "n_bytes", "header_byte", "kind_sniffed"
    )


def _q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-stage plumbing: byte-stride downsample, size accounting
    oracle-checked (payload bytes themselves verified in pytest)."""
    m = synth_media(_docs(spark, sf_dir))
    return resize_stub(m, factor=4).select("media_id", "in_bytes", "out_bytes")


def _q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: stride-64 offsets."""
    m = synth_media(_docs(spark, sf_dir))
    return frame_sample(m, every_n_bytes=64).select("media_id", "frame_idx", "offset")


def _q_ocr_sniff_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY B9: 1,200-char prefix format sniff with the reference's
    matcher tables and ALTO>hOCR>MiniOCR priority — over synthetic
    payloads with format headers planted by doc_id % 4."""
    d = _docs(spark, sf_dir)
    payload = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("<alto xmlns> "), "text"))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit('<div class="ocr_page"> '), "text"))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("<ocr> "), "text"))
        .otherwise(F.col("text"))
    )
    return d.select("doc_id", sniff_format(payload).alias("fmt"))


def _q_ocr_unit_px(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T2/T3: inch1200 and mm10 unit conversions with the
    reference's exact integer-truncation semantics, as column math."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        inch1200_to_px(F.col("n_chars"), 300).alias("inch_px"),
        mm10_to_px(F.col("n_chars")).alias("mm_px"),
    )


def _q_ocr_dpi_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T1: per-row dpi from xdpi:(\\d+) in processingStepSettings
    content with the 300 config fallback (alto.go:56,93-100), feeding
    the inch1200 unit conversion with a COLUMN dpi."""
    d = _docs(spark, sf_dir)
    settings = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("step xdpi:"),
                (F.lit(120) + F.col("doc_id") % 480).cast("string"),
                F.lit(" ydpi:999"),
            ),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit("no resolution recorded"))
        .otherwise(F.concat(F.lit("raw: "), F.substring("text", 1, 40)))
    )
    dpi = extract_dpi(settings)
    return d.select(
        "doc_id",
        dpi.alias("dpi"),
        inch1200_to_px(F.col("n_chars"), dpi).alias("px"),
    )


def _q_ocr_hocr_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T6: hOCR word-bbox corners -> (hpos, vpos, width, height)
    extents (hocr.go:16-17,148-168) over synthesized title strings;
    every third doc carries no bbox (null struct branch)."""
    d = _docs(spark, sf_dir)
    title = F.when(
        F.col("doc_id") % 3 != 2,
        F.concat(
            F.lit("bbox "),
            (F.col("doc_id") % 500).cast("string"),
            F.lit(" "),
            (F.col("doc_id") % 300).cast("string"),
            F.lit(" "),
            (F.col("doc_id") % 500 + F.col("n_chars") % 200 + 1).cast("string"),
            F.lit(" "),
            (F.col("doc_id") % 300 + F.col("n_chars") % 100 + 1).cast("string"),
            F.lit("; x_wconf 93"),
        ),
    ).otherwise(F.lit("x_wconf 12"))
    b = hocr_bbox_to_pos(title)
    return d.select(
        "doc_id",
        b["hpos"].alias("hpos"),
        b["vpos"].alias("vpos"),
        b["width"].alias("width"),
        b["height"].alias("height"),
    )


def _q_ocr_response_fixup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T11: full-index response fixup — strip newlines, double
    quotes -> single quotes (utils.go:32-39, alto.go:376-379)."""
    d = _docs(spark, sf_dir)
    raw = F.concat(
        F.substring("text", 1, 30), F.lit('\nline two "quoted"\nend')
    )
    return d.select("doc_id", fix_response(raw).alias("fixed"))


def _q_ocr_xml_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY T8: non-ASCII -> &#N; decimal XML references (escape at
    build time so query-time matches, config.yml:34-39 lesson)."""
    d = _docs(spark, sf_dir)
    s = F.concat(F.substring("text", 1, 20), F.lit(" é中ß"))
    return d.select("doc_id", xml_codepoint_escape(s).alias("escaped"))


def _q_cursor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``cursorMark`` deep paging: page TWO of the flagship
    ranking fetched with a keyset cursor — the previous page's last
    (score, doc_id) becomes a codegen predicate, so per-partition
    heaps stay k-sized at ANY page depth (operators/score.py
    bm25_cursor_page). Same rows as ``start=10`` (total order makes
    them equal) via a plan whose cost does NOT grow with depth."""
    from solr_ocr_processor_spark.operators.score import bm25_cursor_page

    idx = _index(spark, sf_dir)
    page1 = bm25_cursor_page(spark, idx, FLAGSHIP_QUERY, k=10).collect()
    last = page1[-1]
    top = bm25_cursor_page(
        spark, idx, FLAGSHIP_QUERY, k=10, cursor=(last["score"], last["doc_id"])
    )
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!significantTerms}``: terms over-represented in docs
    containing 'spark' vs the whole corpus, ranked by integer-scaled
    fg/bg document-frequency lift (operators/terms.py)."""
    from solr_ocr_processor_spark.operators.terms import significant_terms

    idx = _index(spark, sf_dir)
    return significant_terms(spark, idx, "spark", min_fg_df=2, limit=20)


def _q_facet_query_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``facet.query``: a count per arbitrary sub-query — term
    facets read off the dictionary, dl-range facets from ONE
    conditional aggregation (operators/facet.py)."""
    from solr_ocr_processor_spark.operators.facet import facet_query_counts

    idx = _index(spark, sf_dir)
    return facet_query_counts(spark, idx)


def _q_json_facet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr JSON Facet API nested terms facet: top langs, each with
    top sources + exact count/sum metrics, all rolled up from ONE
    (lang, source) aggregation (operators/facet.py)."""
    from solr_ocr_processor_spark.operators.facet import json_facet_nested

    return json_facet_nested(spark, _docs(spark, sf_dir))


def _q_graph_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!graph maxDepth=2}``: BFS layering (node, depth) from a
    two-doc seed set over the deterministic synthetic edge relation —
    bounded-depth frontier expansion as iterative hash joins
    (operators/graph.py)."""
    from solr_ocr_processor_spark.operators.graph import graph_expand, synth_edges

    idx = _index(spark, sf_dir)
    edges = synth_edges(idx.doc_meta.select("doc_id"))
    seeds = spark.createDataFrame([(0,), (17,)], "node long")
    return graph_expand(spark, edges, seeds, max_depth=2)


def _q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph dedup profile: per-doc kept/total turn
    counts after keeping only each exact paragraph's first corpus-wide
    occurrence (operators/dedup.py)."""
    from solr_ocr_processor_spark.operators.dedup import paragraph_dedup_profile

    t = derive_transcripts(spark, sf_dir, TW)
    return paragraph_dedup_profile(ordered_turns(t))


def _q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (C4/RefinedWeb source balancing): keep
    at most 20 docs per source, selected by the content-addressed
    unit hash; returns the (domain, n_docs, n_kept) profile
    (operators/split.py)."""
    from solr_ocr_processor_spark.operators.split import domain_cap

    return domain_cap(_docs(spark, sf_dir), cap=20)


def _q_export_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``/export`` handler: the FULL (uncapped) match set of the
    flagship query within a dl range, total-ordered by docValues via a
    range-partitioned exchange (operators/query.py)."""
    from solr_ocr_processor_spark.operators.query import export_sorted

    idx = _index(spark, sf_dir)
    return export_sorted(spark, idx, FLAGSHIP_QUERY, fq="dl:[32 TO 160]")


_child_index_cache: dict[tuple[int, str], "Index"] = {}


def _child_index(spark: SparkSession, sf_dir: str):
    """Turn-level (block-join child) index — built once per sf via the
    UNCHANGED build path over turns re-keyed as single-turn convs
    (operators/nested.py), persisted like the main index."""
    key = (id(spark), sf_dir)
    if key not in _child_index_cache:
        from solr_ocr_processor_spark.operators.nested import build_child_index

        t = derive_transcripts(spark, sf_dir, TW)
        cidx = build_child_index(t)
        for df in (cidx.postings, cidx.doc_meta, cidx.corpus):
            df.persist()
        cidx.postings.count()
        cidx.corpus.count()
        cidx.mat.release_intermediates()
        _child_index_cache[key] = cidx
    return _child_index_cache[key]


def _q_parent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!parent score=max}`` block-join: parents (conversations)
    ranked by the max turn-level BM25 score of their children
    (operators/nested.py)."""
    from solr_ocr_processor_spark.operators.nested import parent_topk

    cidx = _child_index(spark, sf_dir)
    top = parent_topk(spark, cidx, FLAGSHIP_QUERY, k=10, mode="max")
    return top.select(
        "conv_id", F.round("score", 6).alias("score"), "n_child_hits"
    )


def _q_child_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!child of=...}`` / expand component: every turn of the
    flagship query's top-5 parents, via a broadcast of the k winners
    (operators/nested.py)."""
    from solr_ocr_processor_spark.operators.nested import child_expand

    idx = _index(spark, sf_dir)
    out = child_expand(spark, idx, FLAGSHIP_QUERY, k=5)
    return out.select(
        "conv_id",
        "ordinal",
        "role",
        F.round("parent_score", 6).alias("parent_score"),
    )


#: QueryElevationComponent pins for the flagship query (elevate.xml
#: analog) — editorial, deterministic, present at every sf.
ELEVATED = ("c00000011", "c00000003")


def _q_elevation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr QueryElevationComponent: pinned conv_ids first (in list
    order, score 0.0 when injected without a match), organic BM25
    order after, elevated docs removed from it
    (operators/query.py::elevation_topk)."""
    from solr_ocr_processor_spark.operators.query import elevation_topk

    idx = _index(spark, sf_dir)
    out = elevation_topk(spark, idx, FLAGSHIP_QUERY, list(ELEVATED), k=10)
    return out.select(
        "rank", "conv_id", F.round("score", 6).alias("score"), "elevated"
    )


def _q_atomic_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr atomic update / Iceberg MERGE INTO: field-level set/inc
    modifiers + upsert of an unseen doc, merged in one plan whose base
    side never shuffles (operators/lifecycle.py::atomic_update).
    set lang='xx' where doc_id%7==2; inc n_chars by 1000 where
    doc_id%5==0 (both can hit the same doc); insert conv c99999999."""
    from solr_ocr_processor_spark.operators.lifecycle import atomic_update

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    conv = F.concat(F.lit("c"), F.lpad(F.col("doc_id").cast("string"), 8, "0"))
    base = docs.select(
        conv.alias("conv_id"), "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    upd = docs.where((F.col("doc_id") % 7 == 2) | (F.col("doc_id") % 5 == 0)).select(
        conv.alias("conv_id"),
        F.when(F.col("doc_id") % 7 == 2, F.lit("xx")).alias("set_lang"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(1000).cast("long")).alias(
            "inc_n_chars"
        ),
    )
    new = spark.createDataFrame(
        [("c99999999", "zz", 7)], "conv_id string, set_lang string, inc_n_chars long"
    )
    return atomic_update(base, upd.unionByName(new), key="conv_id")


#: C4-style editorial token blocklist (the pipeline gate's list input).
BLOCKLIST = ("vector", "gpu")


def _q_blocklist_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb bad-word gate as a per-source audit profile: a doc
    drops when ANY token is blocklisted; ONE narrow arrays_overlap
    projection + a source-keyed count
    (operators/pipeline.py::blocklist_profile)."""
    from solr_ocr_processor_spark.operators.pipeline import blocklist_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return blocklist_profile(docs, BLOCKLIST)


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus incremental near-dedup: NEW batch (doc_id%5==0)
    against the EXISTING corpus (rest) — asymmetric MinHash LSH
    band-bucket join + exact shingle verify
    (operators/dedup.py::incremental_minhash_dedup)."""
    from solr_ocr_processor_spark.operators.dedup import incremental_minhash_dedup

    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return incremental_minhash_dedup(new, corpus, n=3, tau=0.3)


def _q_ltr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr LTR plugin, linear model over [bm25, matched-frac,
    dl/avgdl] rescoring the BM25 top-50 window
    (operators/query.py::ltr_topk)."""
    from solr_ocr_processor_spark.operators.query import ltr_topk

    idx = _index(spark, sf_dir)
    top = ltr_topk(spark, idx, FLAGSHIP_QUERY, k=10, rerank_docs=50)
    return top.select(
        "doc_id",
        "conv_id",
        F.round("bm25", 6).alias("bm25"),
        F.round("ltr_score", 6).alias("ltr_score"),
    )


#: facet.interval request: arbitrary CLOSED dl intervals, deliberately
#: overlapping (a doc may count in two — the semantics facet.range
#: can't express).
INTERVALS = ((0, 39), (32, 63), (60, 10_000))


def _q_facet_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.interval: matched-doc counts per arbitrary
    (overlapping) dl interval, ONE conditional-sum aggregation
    (operators/facet.py::interval_facet_counts)."""
    from solr_ocr_processor_spark.operators.facet import interval_facet_counts

    idx = _index(spark, sf_dir)
    return interval_facet_counts(spark, idx, FLAGSHIP_QUERY, intervals=INTERVALS)


#: /get id list — the last id never exists (Solr omits absent ids).
RTG_IDS = ("c00000003", "c00000011", "c00000404", "c99999999")


def _q_realtime_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /get (realtime get): stored doc-values for an explicit id
    list, no searcher (operators/query.py::realtime_get)."""
    from solr_ocr_processor_spark.operators.query import realtime_get

    idx = _index(spark, sf_dir)
    return realtime_get(spark, idx, list(RTG_IDS))


def _q_spellcheck_collate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck.collate: each word of a misspelled query
    corrects to its top dictionary suggestion, the collated query runs
    as normal BM25 (operators/expand.py::spellcheck_collate). 'spak
    windw merge' collates to the flagship query's terms."""
    from solr_ocr_processor_spark.operators.expand import spellcheck_collate

    idx = _index(spark, sf_dir)
    top = spellcheck_collate(spark, idx, "spak windw merge", k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation profile: per-source log2 token-length histogram
    (operators/pipeline.py::length_histogram)."""
    from solr_ocr_processor_spark.operators.pipeline import length_histogram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_histogram(docs)


#: query-time synonym map (SynonymGraphFilter analog). 'combine' is
#: absent from the corpus — the dead-member path must contribute 0.
SYNONYMS = {"merge": ("join", "combine")}


def _q_synonym_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SynonymQuery semantics at query time: each term + its
    synonyms score as ONE pseudo-term (tf = sum of members, df = max
    of members) (operators/expand.py::synonym_topk)."""
    from solr_ocr_processor_spark.operators.expand import synonym_topk

    idx = _index(spark, sf_dir)
    top = synonym_topk(spark, idx, "merge window", SYNONYMS, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax bq= additive boost query: main match set keeps its BM25,
    docs also matching the boost query add its weighted score
    (operators/query.py::bq_topk)."""
    from solr_ocr_processor_spark.operators.query import bq_topk

    idx = _index(spark, sf_dir)
    top = bq_topk(spark, idx, FLAGSHIP_QUERY, bq="fast", bq_weight=0.5, k=10)
    return top.select(
        "doc_id",
        "conv_id",
        F.round("score", 6).alias("score"),
        F.round("boosted", 6).alias("boosted"),
    )


def _q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule gate (word count / mean token length /
    alpha fraction / duplicate lines) as a per-source audit profile
    (operators/pipeline.py::gopher_rules_profile)."""
    from solr_ocr_processor_spark.operators.pipeline import gopher_rules_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_rules_profile(docs)


def _q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (prompt, completion) assembly: every assistant turn paired
    with its previous up-to-3 turns as a role-tagged prompt, via a
    bounded window — no quadratic prefix
    (operators/pipeline.py::sft_pairs)."""
    from solr_ocr_processor_spark.operators.pipeline import sft_pairs

    idx = _index(spark, sf_dir)
    return sft_pairs(
        idx.mat.turns.select("conv_id", "ordinal", "role", "text"),
        context_turns=3,
    )


def _q_score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr debug=true / Lucene Explanation: per-term BM25 breakdown
    (tf, df, idf, tf_norm, term_score) for the flagship query's top-3
    docs (operators/score.py::explain_scores)."""
    from solr_ocr_processor_spark.operators.score import explain_scores

    idx = _index(spark, sf_dir)
    ex = explain_scores(spark, idx, FLAGSHIP_QUERY, k=3)
    return ex.select(
        "doc_id",
        "conv_id",
        "term",
        "tf",
        "dl",
        "df",
        F.round("idf", 6).alias("idf"),
        F.round("tf_norm", 6).alias("tf_norm"),
        F.round("term_score", 6).alias("term_score"),
        F.round("score", 6).alias("score"),
    )


def _stream_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        "documents": _docs(spark, sf_dir),
        "embeddings": spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
        "events": spark.read.parquet(f"{sf_dir}/events.parquet"),
    }


_STREAM_ROLLUP_EXPR = (
    'sort(having(rollup(search(documents, q="n_chars:[100 TO *]", '
    'fl="source,lang,n_chars", sort="source asc"), over="source,lang", '
    "count(*), sum(n_chars), avg(n_chars)), gteq(count_all, 2)), "
    'by="source asc, lang asc")'
)

_STREAM_HASHJOIN_EXPR = (
    'top(n=20, hashJoin(search(documents, q="lang:en", '
    'fl="doc_id,source,n_chars", sort="doc_id asc"), '
    'hashed=rollup(search(documents, q="*:*", fl="source", sort="source asc"), '
    'over="source", count(*)), on="source"), '
    'sort="n_chars desc, doc_id asc")'
)

_STREAM_COMPLEMENT_EXPR = (
    'sort(complement(search(documents, q="lang:en", fl="doc_id,source", '
    'sort="doc_id asc"), search(embeddings, q="label:3", fl="vec_id", '
    'sort="vec_id asc"), on="doc_id=vec_id"), by="doc_id asc")'
)

# Shared-dialect SELECT: runs verbatim on Spark SQL and DuckDB (the
# oracle IS this string).
_SQL_HANDLER_STMT = """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE lang <> 'en' GROUP BY source, lang
ORDER BY n_docs DESC, source ASC, lang ASC LIMIT 20
"""


def _q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream handler (SURVEY §2.5.1): rollup over a sorted
    search, post-aggregate having — compiled to groupBy/agg with
    map-side partial aggregation (the expression's sort hint is not
    needed by Spark and is not executed as a global sort)."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    df = compile_stream(_STREAM_ROLLUP_EXPR, _stream_tables(spark, sf_dir))
    return df.withColumn("avg_n_chars", F.round("avg_n_chars", 6))


def _q_stream_hashjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream hashJoin: the hashed= side compiles to an explicit
    broadcast join (the user's fits-in-memory assertion), top(n=...)
    lowers to TakeOrderedAndProject."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    return compile_stream(_STREAM_HASHJOIN_EXPR, _stream_tables(spark, sf_dir))


def _q_stream_complement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream complement(): tuples of the left stream whose key
    has no match in the right — a left-anti join, so the right side's
    payload is never materialized."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    return compile_stream(_STREAM_COMPLEMENT_EXPR, _stream_tables(spark, sf_dir))


_STREAM_FACET_EXPR = (
    'facet(documents, q="n_chars:[50 TO *]", buckets="source,lang", '
    'bucketSorts="count_all desc, source asc, lang asc", bucketSizeLimit=10, '
    "count(*), sum(n_chars), avg(n_chars))"
)

_STREAM_STATS_EXPR = (
    'stats(documents, q="lang:en", count(*), sum(n_chars), '
    "min(n_chars), max(n_chars), avg(n_chars))"
)

_STREAM_FETCH_EXPR = (
    'sort(fetch(embeddings, search(documents, q="lang:de", '
    'fl="doc_id,source", sort="doc_id asc"), on="doc_id=vec_id", '
    'fl="label"), by="doc_id asc")'
)


def _q_stream_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream facet(): bucketed aggregates pushed to the facet
    engine — lowered to groupBy/agg (map-side partial combine) with
    bucketSorts+bucketSizeLimit as TakeOrderedAndProject."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    df = compile_stream(_STREAM_FACET_EXPR, _stream_tables(spark, sf_dir))
    return df.withColumn("avg_n_chars", F.round("avg_n_chars", 6))


def _q_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream stats(): one global aggregate row — a partial-agg
    all-to-one reduction, no row shuffle."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    df = compile_stream(_STREAM_STATS_EXPR, _stream_tables(spark, sf_dir))
    return df.withColumn("avg_n_chars", F.round("avg_n_chars", 6))


_STREAM_CARTESIAN_EXPR = (
    'cartesianProduct(search(embeddings, q="label:3", '
    'fl="vec_id,embedding", sort="vec_id asc"), embedding, '
    'productSort="vec_id asc")'
)


def _q_stream_cartesian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream cartesianProduct(): one tuple per element of a
    multivalued field — a map-side explode Generate, no shuffle."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    df = compile_stream(_STREAM_CARTESIAN_EXPR, _stream_tables(spark, sf_dir))
    return df.select(
        "vec_id", F.round(F.col("embedding").cast("double"), 6).alias("val")
    )


def _q_stream_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream fetch(): decorate stream tuples with fields
    point-fetched from a collection — a broadcast left join of the
    (key, fl) projection of the collection."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    return compile_stream(_STREAM_FETCH_EXPR, _stream_tables(spark, sf_dir))


def _q_term_boost_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene caret boosts — ``spark^2 window merge^0.5``: each term's
    BM25 contribution scaled by its boost before the deterministic
    sorted-term fold (operators/query.term_boost_topk)."""
    from solr_ocr_processor_spark.operators.query import term_boost_topk

    idx = _index(spark, sf_dir)
    top = term_boost_topk(spark, idx, "spark^2 window merge^0.5", k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_pf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax ``pf=`` phrase boost: disjunctive BM25 over the phrase
    terms plus 0.5x the Lucene phrase clause score for docs containing
    the exact phrase (operators/query.pf_topk)."""
    from solr_ocr_processor_spark.operators.query import pf_topk

    idx = _index(spark, sf_dir)
    top = pf_topk(spark, idx, PHRASE, pf_weight=0.5, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_stats_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``stats.cardinality``: distinct dl values over docs
    matching any flagship term — exact distinct as the oracle spine
    (operators/facet.stats_cardinality); the HLL++ sketch path
    (approx=True) is the 10^12-doc variant, error-bounded in pytest."""
    from solr_ocr_processor_spark.operators.facet import stats_cardinality

    idx = _index(spark, sf_dir)
    return stats_cardinality(spark, idx, FLAGSHIP_QUERY, field="dl")


def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169): hashed
    unigram+bigram bag models (4096 md5 buckets, add-1 smoothing),
    target sample = source 'src1'; per-doc log p_tgt/p_raw importance
    weight for every doc (operators/pipeline.dsir_importance)."""
    from solr_ocr_processor_spark.operators.pipeline import dsir_importance

    return dsir_importance(_docs(spark, sf_dir), target_source="src1")


def _q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resample step: Gumbel-top-k over the importance weights
    (operators/pipeline.dsir_resample) — md5-uniform Gumbel noise both
    engines recompute, TakeOrderedAndProject(n) selection."""
    from solr_ocr_processor_spark.operators.pipeline import dsir_resample

    return dsir_resample(_docs(spark, sf_dir), target_source="src1", n=50)


def _q_lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet LM-quality routing: head/middle/tail terciles by integer
    per-mille per-token NLL, discrete value thresholds (ties share the
    cut's bucket), empty docs routed explicitly
    (operators/pipeline.ccnet_lm_buckets)."""
    from solr_ocr_processor_spark.operators.pipeline import ccnet_lm_buckets

    return ccnet_lm_buckets(_docs(spark, sf_dir))


def _q_group_facet_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``group=true&group.facet=true``: per date bucket, the
    number of result GROUPS (dl-bucket grouping key) containing a doc
    matching any flagship term (operators/facet.group_facet_counts)."""
    from solr_ocr_processor_spark.operators.facet import group_facet_counts

    idx = _index(spark, sf_dir)
    return group_facet_counts(spark, idx, FLAGSHIP_QUERY, width=64, gap_minutes=10)


def _q_luke_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``/admin/luke`` analog: one-row index summary (numDocs,
    numTerms, posting rows, token total, avgdl, hottest-term df, dl
    extremes) from dictionary/doc_meta/corpus only — no posting scan
    (operators/terms.luke_report)."""
    from solr_ocr_processor_spark.operators.terms import luke_report

    return luke_report(spark, _index(spark, sf_dir))


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): embedding-cluster-then-prune
    semantic dedup — 16 md5-rank clusters, within-cluster cosine >=
    0.38 marks the higher id a duplicate of its smallest qualifying
    lower id (operators/dedup.semantic_dedup). The oracle replays
    centroid choice, assignment, and the per-cluster pair sweep."""
    from solr_ocr_processor_spark.operators.dedup import semantic_dedup

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semantic_dedup(embs, tau=0.38, n_clusters=16, seed=17)
    return out.select(
        "dup_id", "keep_id", "list_id", F.round("cos", 6).alias("cos")
    ).orderBy("dup_id")


def _q_sql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /sql handler: read-only SELECT over the collections; Solr
    lowers SQL to streaming expressions, this engine lowers it to
    Catalyst (the dialect-shared statement doubles as the oracle)."""
    from solr_ocr_processor_spark.operators.stream_expr import sql_handler

    return sql_handler(spark, _stream_tables(spark, sf_dir), _SQL_HANDLER_STMT)


_TIMESERIES_EXPR = (
    'timeseries(events, q="event_type:purchase", field="ts", '
    'start="2024-01-01T00:00:00Z", end="2024-01-04T00:00:00Z", '
    'gap="+4HOURS", count(*), sum(value))'
)


def _q_stream_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /stream timeseries(): date-bucketed metrics with Solr's
    every-gap-step zero-fill — pushed range filter, epoch-floor bucket,
    groupBy/agg, LEFT join against a spark.range bucket spine
    (operators/stream_expr, verb ``timeseries``)."""
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    df = compile_stream(_TIMESERIES_EXPR, _stream_tables(spark, sf_dir))
    return df.withColumn("sum_value", F.round("sum_value", 6))


def _q_facet_range_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.range over documents.n_chars with the full response
    envelope: facet.range.other=all (before/between/after) +
    hardend=true, empty buckets emitted with 0
    (operators/facet.range_facet_other)."""
    from solr_ocr_processor_spark.operators.facet import range_facet_other

    return range_facet_other(
        _docs(spark, sf_dir), "n_chars", start=150, end=1100, gap=250,
        hardend=True,
    )


def _q_constant_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene ^= constant-score boost: flagship BM25 match set, docs
    also containing 'fast' gain exactly +2.0
    (operators/query.constant_score_topk)."""
    from solr_ocr_processor_spark.operators.query import constant_score_topk

    idx = _index(spark, sf_dir)
    out = constant_score_topk(
        spark, idx, FLAGSHIP_QUERY, cs_term="fast", cs_score=2.0, k=10
    )
    return out.select(
        "doc_id", "conv_id",
        F.round("score", 6).alias("score"),
        F.round("boosted", 6).alias("boosted"),
    )


def _q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve over the documents corpus: top-50
    terms by collection frequency with cumulative token coverage —
    the vocab-size / OOV-rate design table
    (operators/pipeline.vocab_coverage)."""
    from solr_ocr_processor_spark.operators.pipeline import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), top_n=50)


def _q_dismax_tie_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(e)dismax tie= — DisjunctionMaxQuery over role fields: per term
    the BEST field's BM25 clause score plus tie x the others (each
    field its own scorer with per-field df/idf and length norms)
    (operators/bm25f.dismax_tie_topk)."""
    from solr_ocr_processor_spark.operators.bm25f import dismax_tie_topk

    t = derive_transcripts(spark, sf_dir, TW)
    return dismax_tie_topk(
        t, list(FLAGSHIP_TERMS), {"assistant": 2.0, "user": 1.0}, tie=0.3, k=10
    )


def _q_pf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edismax pf2= bigram phrase boost: bm25(q) + 0.5 x the summed
    phrase clause scores of every ADJACENT query-term pair — partial
    word-order preservation outranks bag-of-words
    (operators/query.pf2_topk)."""
    from solr_ocr_processor_spark.operators.query import pf2_topk

    idx = _index(spark, sf_dir)
    top = pf2_topk(spark, idx, FLAGSHIP_QUERY, pf2_weight=0.5, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning rules (Raffel et al. 2020) as a
    per-source audit: terminal-punctuation + >=5-word + no-javascript
    line filter, >=3 kept lines, lorem-ipsum / curly-brace tripwires
    (operators/pipeline.c4_rules_profile)."""
    from solr_ocr_processor_spark.operators.pipeline import c4_rules_profile

    return c4_rules_profile(_docs(spark, sf_dir))


def _q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking with overlap (size=64 stride=48):
    every token lands in >=1 chunk, consecutive chunks overlap by 16
    tokens — the RAG / long-context prep pass
    (operators/split.chunk_overlap)."""
    from solr_ocr_processor_spark.operators.split import chunk_overlap

    return chunk_overlap(_docs(spark, sf_dir), size=64, stride=48)


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality-classifier inference (fastText shape):
    md5-bucketed bag of words x deterministic integer weight vector,
    exact BIGINT dot, one sigmoid per doc
    (operators/pipeline.quality_classifier)."""
    from solr_ocr_processor_spark.operators.pipeline import quality_classifier

    return quality_classifier(_docs(spark, sf_dir), n_buckets=4096)


def _q_hybrid_blend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by convex score combination: min-max
    normalized BM25 top-50 + cosine top-50, blend = 0.6*lex +
    0.4*vec (operators/hybrid.blend_fusion_topk) — the alpha-blend
    fusion next to RRF; preserves margin info rank fusion discards."""
    from solr_ocr_processor_spark.operators.hybrid import blend_fusion_topk

    idx = _index(spark, sf_dir)
    return blend_fusion_topk(
        spark,
        idx,
        _embs(spark, sf_dir),
        FLAGSHIP_QUERY,
        _qvec(spark, sf_dir),
        alpha=0.6,
        k=10,
    )


def _q_stopstem_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 under a text_en-style analysis chain: lowercase ->
    [a-z0-9]+ -> Lucene default English stop set -> Harman S-stemmer,
    applied identically at doc and query side; dl is the post-filter
    token count (operators/bm25f.stopstem_topk)."""
    from solr_ocr_processor_spark.operators.bm25f import stopstem_topk

    t = derive_transcripts(spark, sf_dir, TW)
    return stopstem_topk(t, "the spark windows merges", k=10)


def _q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call transition counts over agent transcripts: corpus-wide
    (src_tool -> dst_tool) frequencies with a START pseudo-state, the
    Markov skeleton of agentic behavior
    (operators/conversation.tool_transitions)."""
    from solr_ocr_processor_spark.operators.conversation import tool_transitions

    return tool_transitions(derive_transcripts(spark, sf_dir, TW))


def _q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ query over the PERSISTED compressed index (FAISS
    IndexIVFPQ layout): nprobe stored lists pruned by partition, ADC
    over m-byte codes as a JVM table-lookup sum, exact-cosine rerank
    of k*refine winners via an isin point read
    (operators/ann_store.build_pq_store / ivfpq_topk_stored)."""
    import os

    from solr_ocr_processor_spark.operators.ann_store import (
        build_pq_store,
        ivfpq_topk_stored,
    )

    store = _ann_store(spark, sf_dir)
    # PQ layer built lazily by its one consumer: LSH/IVF queries that
    # share the store never pay the encode pass + pq/ write
    if not os.path.exists(store.path("pq_meta.json")):
        build_pq_store(spark, store, _embs(spark, sf_dir))
    return ivfpq_topk_stored(
        spark, store, _embs(spark, sf_dir), _qvec(spark, sf_dir),
        k=10, nprobe=4, refine=4,
    )


def _q_ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval (MRL): cosine over the first 16 dims as a
    cheap prefilter (prefix_dim/dim of the scan+flop cost), exact
    full-dim rerank of the k*refine survivors
    (operators/ann.matryoshka_topk)."""
    from solr_ocr_processor_spark.operators.ann import matryoshka_topk

    return matryoshka_topk(
        _embs(spark, sf_dir), _qvec(spark, sf_dir), k=10, prefix_dim=16,
        refine=4,
    )


def _q_passage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level retrieval with maxP aggregation (Dai & Callan
    2019): BM25 over sliding-window passages, each doc ranked by its
    best passage; returns the winning passage's locator
    (operators/hybrid.passage_topk over operators/split.chunk_overlap)."""
    from solr_ocr_processor_spark.operators.hybrid import passage_topk

    return passage_topk(_docs(spark, sf_dir), FLAGSHIP_QUERY, k=10)


def _q_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback: top-5 hits donate 5 expansion
    terms (integer-scaled relevance-model weights — deterministic
    selection boundary), interpolated rescore at orig_weight=0.5
    (operators/query.rm3_topk)."""
    from solr_ocr_processor_spark.operators.query import rm3_topk

    idx = _index(spark, sf_dir)
    top = rm3_topk(
        spark, idx, FLAGSHIP_QUERY, k=10, fb_docs=5, fb_terms=5,
        orig_weight=0.5,
    )
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_ltr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr LTR feature logging (fl=[features]): raw per-candidate
    feature vectors over the base-ranker window — the training-data
    export the ltr_topk model is fit from
    (operators/query.ltr_features)."""
    from solr_ocr_processor_spark.operators.query import ltr_features

    idx = _index(spark, sf_dir)
    return ltr_features(spark, idx, FLAGSHIP_QUERY, rerank_docs=20)


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix: shared distinct 3-gram
    counts + Jaccard per source pair — the independence audit before
    mixture weighting (operators/pipeline.source_overlap_matrix)."""
    from solr_ocr_processor_spark.operators.pipeline import source_overlap_matrix

    return source_overlap_matrix(_docs(spark, sf_dir), n=3)


def _q_lmdir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Lucene
    LMDirichletSimilarity, mu=2000) — the second scoring model next to
    BM25, per-term clamped at 0 exactly as Lucene does
    (operators/query.lmdir_topk)."""
    from solr_ocr_processor_spark.operators.query import lmdir_topk

    idx = _index(spark, sf_dir)
    top = lmdir_topk(spark, idx, FLAGSHIP_QUERY, k=10, mu=2000.0)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_prf_vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-side pseudo-relevance feedback (Rocchio): q' = q +
    0.5*mean(top-5 vectors), exact cosine against the updated query —
    the dense symmetry of rm3_topk (operators/ann.prf_vector_topk)."""
    from solr_ocr_processor_spark.operators.ann import prf_vector_topk

    return prf_vector_topk(
        _embs(spark, sf_dir), _qvec(spark, sf_dir), k=10, fb_k=5,
        alpha=1.0, beta=0.5,
    )


def _q_text_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-1/2/3 n-gram diversity per source (Li et al. 2016) —
    the template / mode-collapse tripwire for generated corpora
    (functions/textstats.ngram_diversity)."""
    from solr_ocr_processor_spark.functions.textstats import ngram_diversity

    return ngram_diversity(_docs(spark, sf_dir), n_max=3)


def _q_refusal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refusal-phrase audit over assistant turns: per-conv counts of
    canned refusal / AI-self-reference markers — the SFT boilerplate
    gate (operators/conversation.refusal_profile)."""
    from solr_ocr_processor_spark.operators.conversation import refusal_profile

    return refusal_profile(derive_transcripts(spark, sf_dir, TW))


def _q_template_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-level boilerplate detection: assistant turns whose
    normalized text recurs across >= 2 conversations (templates
    inflate their phrasing's training weight; doc-level dedup is
    blind to them) (operators/conversation.template_turns)."""
    from solr_ocr_processor_spark.operators.conversation import template_turns

    return template_turns(derive_transcripts(spark, sf_dir, TW), min_convs=2)


def _q_conv_lint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation well-formedness lint: starts-with-user /
    ends-with-assistant / role-alternation / empty-turn checks per
    conversation, under the engine's stable turn ordering
    (operators/conversation.conv_lint)."""
    from solr_ocr_processor_spark.operators.conversation import conv_lint

    return conv_lint(derive_transcripts(spark, sf_dir, TW))


def _q_payload_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``{!payload_score func=max}``: rank docs by the max payload
    stored at 'spark' positions — the payload is the token position,
    the engine's per-occurrence slot (the OCR-coordinate analog,
    operators/query.payload_score_topk). Exact BIGINT scores."""
    from solr_ocr_processor_spark.operators.query import payload_score_topk

    idx = _index(spark, sf_dir)
    return payload_score_topk(spark, idx, "spark", func="max", k=10)


def _q_analysis_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr ``/analysis/field`` debug verb: a raw string's tokens at
    each analysis stage (tokenize → stop → stem) with Lucene's
    position-increment contract (functions/tokenizer.analysis_stages).
    """
    from solr_ocr_processor_spark.functions.tokenizer import analysis_stages

    return analysis_stages(spark, ANALYSIS_TEXT)


def _q_mlt_interesting_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr MLT ``mlt.interestingTerms=details``: the seed doc's
    expansion terms WITH tf/df/weight — the introspection half of the
    mlt_topk surface (operators/expand.mlt_interesting_terms)."""
    from solr_ocr_processor_spark.operators.expand import mlt_interesting_terms

    idx = _index(spark, sf_dir)
    return mlt_interesting_terms(spark, idx, MLT_DOC, max_query_terms=15)


def _q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment >= 1/2 (Broder's second
    resemblance): the doc-in-doc / quote contamination detector
    Jaccard misses. The DEFAULT entry is the round-5 plan dispatcher
    (operators/dedup.containment_pairs_auto): one df-moment aggregate
    (Σdf² vs Σdf) picks the exact spine on uniform data — as here —
    or the prefix-filtered banded plan under hot-shingle skew; both
    answer identically, so the spine's SQL stays the oracle either
    way. Integer cross-multiplied threshold, BIGINT scaled output."""
    from solr_ocr_processor_spark.operators.dedup import containment_pairs_auto

    return containment_pairs_auto(
        _docs(spark, sf_dir), n=3, tau_num=1, tau_den=2
    )


def _q_dedup_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale containment path (operators/dedup.
    containment_pairs_banded): prefix-filtered candidate generation
    (AllPairs/PPJoin pigeonhole band — LOSSLESS, unlike MinHash
    banding which keys on symmetric Jaccard) + exact verify on
    candidates only. Oracle = the exact spine's SQL, so the hash
    match proves the banded plan answers identically with the
    s²-per-hot-shingle self-join gone."""
    from solr_ocr_processor_spark.operators.dedup import containment_pairs_banded

    return containment_pairs_banded(
        _docs(spark, sf_dir), n=3, tau_num=1, tau_den=2
    )


def _q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility / bytes-per-piece profile — the
    tokenizer-efficiency dashboard of a data mixture
    (functions/textstats.tokenizer_fertility)."""
    from solr_ocr_processor_spark.functions.textstats import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir))


def _q_knn_postfilter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr 9 knn with POST-filter semantics: global cosine top-40
    first, label filter after, cut to 10 — may under-fill, the
    documented contrast to knn_filtered_topk's pre-filter
    (operators/ann.knn_postfilter_topk)."""
    from solr_ocr_processor_spark.operators.ann import knn_postfilter_topk

    return knn_postfilter_topk(
        _embs(spark, sf_dir),
        _qvec(spark, sf_dir),
        k=10,
        prefetch_k=40,
        predicate=F.col("label") == 2,
    )


def _q_code_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose router: per-doc symbol/keyword/camelCase signals
    with integer-scaled ratios and an integer-boundary is_code flag
    (functions/textstats.code_profile)."""
    from solr_ocr_processor_spark.functions.textstats import code_profile

    return code_profile(_docs(spark, sf_dir))


def _q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-bigram collocations by PMI, ranked by the exact
    integer rational c_ab·N²/(c_a·c_b) (functions/textstats
    .collocations) — phrase-mining over the documents corpus."""
    from solr_ocr_processor_spark.functions.textstats import collocations

    return collocations(_docs(spark, sf_dir), min_count=5, k=20)


def _q_stream_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr streaming topic() verb: checkpointed incremental pull —
    docs matching 'spark' whose last_ts version is newer than the
    subscriber's checkpoint, oldest first
    (operators/query.topic_pull)."""
    import datetime

    from solr_ocr_processor_spark.operators.query import topic_pull

    idx = _index(spark, sf_dir)
    return topic_pull(
        spark, idx, "spark", datetime.datetime(2026, 1, 1, 0, 5), limit=50
    )


def _q_facet_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.contains: only facet values containing the needle
    reach the term list, evaluated before sort/limit
    (operators/facet.field_facet_counts)."""
    from solr_ocr_processor_spark.operators.facet import field_facet_counts

    return field_facet_counts(
        _docs(spark, sf_dir), "source", missing=False, sort="count",
        limit=10, contains="1",
    )


PERCOLATE_QUERIES = [
    ("q_merge", "merge"),
    ("q_none", "spark zzzqxv"),
    ("q_spark_window", "spark window"),
]


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup: same MinHash+LSH pair graph and components as
    dedup_clusters, but the survivor is the longest member (max
    n_chars, ties min id) — the keep-the-most-complete-copy policy
    (operators/dedup.dup_keep_best)."""
    from solr_ocr_processor_spark.operators.dedup import dup_keep_best

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, tau=0.3)
    return dup_keep_best(docs, pairs, score_col="n_chars")


def _q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation / alerting: three stored conjunctive queries matched
    against every document — reverse search at scan cost
    (operators/percolate.percolate_matches)."""
    from solr_ocr_processor_spark.operators.percolate import percolate_matches

    qs = spark.createDataFrame(
        PERCOLATE_QUERIES, "query_id string, query_text string"
    )
    return percolate_matches(spark, qs, _docs(spark, sf_dir))


def _q_composite_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr compositeId shard routing: docs route to 1 of 8 shards by
    the md5 unit-hash of their route key (source), co-locating each
    key on one shard (operators/split.composite_id_route)."""
    from solr_ocr_processor_spark.operators.split import composite_id_route

    return composite_id_route(_docs(spark, sf_dir), n_shards=8)


def _q_suggest_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr suggester ContextField: completions of 's' ranked by df
    WITHIN the lang=en doc subset — context-scoped popularity
    (operators/expand.suggest_terms_context)."""
    from solr_ocr_processor_spark.operators.expand import suggest_terms_context

    idx = _index(spark, sf_dir)
    allowed = _docs(spark, sf_dir).where("lang = 'en'").select("doc_id")
    return suggest_terms_context(spark, idx, "s", allowed, n=10)


def _q_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-field diagnostics: one-row dimension/zero-norm/norm-mass
    report with per-row integer-scaled norms so the mean is exact
    (operators/ann.vector_stats)."""
    from solr_ocr_processor_spark.operators.ann import vector_stats

    return vector_stats(_embs(spark, sf_dir))


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, round one: most frequent adjacent
    char pairs weighted by word frequency — the statistic the merge
    loop consumes (functions/textstats.bpe_merge_candidates)."""
    from solr_ocr_processor_spark.functions.textstats import bpe_merge_candidates

    return bpe_merge_candidates(_docs(spark, sf_dir), k=20)


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recall@10 of the PERSISTED multi-probe LSH index vs the
    exact brute-force scan — the eval every ANN deployment runs before
    trusting its index (operators/ann.recall_at_k)."""
    from solr_ocr_processor_spark.operators.ann import recall_at_k

    embs, qv = _embs(spark, sf_dir), _qvec(spark, sf_dir)
    exact = cosine_topk(embs, qv, k=10)
    approx = lsh_topk_stored(spark, _ann_store(spark, sf_dir), qv, k=10)
    return recall_at_k(exact, approx, 10)


def _q_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift: smoothed odds-ratio terms most over-represented
    in src0 vs src1, ranked by the exact integer rational
    (functions/textstats.term_drift)."""
    from solr_ocr_processor_spark.functions.textstats import term_drift

    return term_drift(_docs(spark, sf_dir), "src0", "src1", k=15)


def _q_span_near_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene SpanNearQuery inOrder=false: "table value"~2 matched in
    EITHER direction — the unordered half of the sloppy-phrase pair
    (operators/query.span_near_topk)."""
    from solr_ocr_processor_spark.operators.query import span_near_topk

    idx = _index(spark, sf_dir)
    top = span_near_topk(spark, idx, PHRASE, slop=PROX_SLOP, k=10)
    return top.select("doc_id", "conv_id", F.round("score", 6).alias("score"))


def _q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-normalized exact dedup: lowercase / digits→0 / strip
    punct / collapse whitespace before hashing — catches trivial
    variants raw hashing misses (operators/dedup
    .normalized_dup_groups)."""
    from solr_ocr_processor_spark.operators.dedup import normalized_dup_groups

    return normalized_dup_groups(_docs(spark, sf_dir))


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: the documents table vs a deterministically
    mutated copy (every %10==3 doc removed, %10==7 edited, %10==0
    re-added under a new id) classified added/removed/changed/
    unchanged (operators/pipeline.corpus_diff)."""
    from solr_ocr_processor_spark.operators.pipeline import corpus_diff

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    kept = docs.where("doc_id % 10 != 3")
    mutated = kept.select(
        "doc_id",
        F.when(
            F.expr("doc_id % 10 = 7"), F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where("doc_id % 10 = 0").select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    return corpus_diff(docs, mutated.unionByName(added))


def _q_role_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role token-mass analytics over the transcripts table —
    turns/convs/tokens and the exact integer mean per role
    (operators/conversation.role_stats)."""
    from solr_ocr_processor_spark.operators.conversation import role_stats

    return role_stats(derive_transcripts(spark, sf_dir, TW))


def _q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-batching prep: NTILE(8) equal-height length buckets
    under the (n_tokens, doc_id) total order
    (operators/split.length_buckets)."""
    from solr_ocr_processor_spark.operators.split import length_buckets

    return length_buckets(_docs(spark, sf_dir), n_buckets=8)


def _q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent OLS over the dictionary (operators/terms.
    zipf_fit): ln(cf) on ln(rank) for the top-5000 terms — alpha, r²
    and the fitted rank-1 height, closed-form from five sums."""
    from solr_ocr_processor_spark.operators.terms import zipf_fit

    return zipf_fit(_index(spark, sf_dir), top_n=5000)


def _q_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf frequency-of-frequencies over the dictionary: terms per
    exact collection frequency 1..8 + overflow bucket, with token
    mass (operators/terms.freq_spectrum)."""
    from solr_ocr_processor_spark.operators.terms import freq_spectrum

    return freq_spectrum(_index(spark, sf_dir))


def _q_template_exchanges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation template EXCHANGES: adjacent two-turn pairs
    whose normalized text repeats across >= 2 convs — scripted Q→A
    detection (operators/conversation.template_exchanges)."""
    from solr_ocr_processor_spark.operators.conversation import (
        template_exchanges,
    )

    return template_exchanges(derive_transcripts(spark, sf_dir, TW), min_convs=2)


def _q_facet_mincount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr facet.mincount + facet.excludeTerms: lang buckets with
    count >= 70, the 'en' term excluded from the value list
    (operators/facet.field_facet_counts)."""
    from solr_ocr_processor_spark.operators.facet import field_facet_counts

    return field_facet_counts(
        _docs(spark, sf_dir), "lang", missing=False, sort="count",
        mincount=70, exclude_terms=("en",),
    )


def _q_spellcheck_popular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spellcheck.onlyMorePopular: suggestions for 'fast'
    restricted to dictionary terms with HIGHER df than 'fast' itself
    (operators/expand.spellcheck_terms)."""
    from solr_ocr_processor_spark.operators.expand import spellcheck_terms

    idx = _index(spark, sf_dir)
    return spellcheck_terms(
        spark, idx, "fast", n=5, max_edits=2, only_more_popular=True
    )


def _q_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local df skew for the flagship terms over 8 doc-hash
    shards — the diagnostic behind the global-stats prepass (scoring
    with shard-local idf ranks differently per shard)
    (operators/terms.shard_df_skew)."""
    from solr_ocr_processor_spark.operators.terms import shard_df_skew

    idx = _index(spark, sf_dir)
    return shard_df_skew(idx, list(FLAGSHIP_TERMS), n_shards=8)


def _q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate dashboard: exact content-hash dupes
    (non-canonical members) rolled up by source
    (operators/dedup.dup_rate_by_source)."""
    from solr_ocr_processor_spark.operators.dedup import dup_rate_by_source

    return dup_rate_by_source(_docs(spark, sf_dir))


def _q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: the events table's JSON
    props parsed with the native JSON path (codegen, no UDF) and
    aggregated per event_type (operators/stream_expr
    .json_props_stats)."""
    from solr_ocr_processor_spark.operators.stream_expr import json_props_stats

    return json_props_stats(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    )


def _q_result_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr clustering component (Carrot2 contrib) analog: the
    flagship BM25 top-20 grouped by each doc's top tf·idf term,
    singletons in the Other-Topics (NULL) bucket
    (operators/cluster.result_clusters)."""
    from solr_ocr_processor_spark.operators.cluster import result_clusters

    idx = _index(spark, sf_dir)
    page = bm25_topk(spark, idx, FLAGSHIP_QUERY, k=20)
    return result_clusters(spark, idx, page, min_docs=2)


def _q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval evaluation (operators/eval.rank_eval — the
    trec_eval analog, lexical twin of ann_recall): the batched BM25
    workload's top-5 pages graded against conjunctive-match qrels
    (relevant = contains EVERY query term). All metrics integer-scaled
    ppm via div so the oracle recomputes them bit-identically."""
    from solr_ocr_processor_spark.functions.tokenizer import query_terms
    from solr_ocr_processor_spark.operators.eval import rank_eval
    from solr_ocr_processor_spark.operators.score import bm25_batch_topk

    idx = _index(spark, sf_dir)
    results = bm25_batch_topk(spark, idx, _BATCH_QUERIES, k=5).select(
        "query_id", "rank", "doc_id"
    )
    qt = [
        (qid, t) for qid, q in _BATCH_QUERIES.items() for t in set(query_terms(q))
    ]
    qt_df = spark.createDataFrame(qt, "query_id string, term string")
    nt_df = spark.createDataFrame(
        [(qid, len(set(query_terms(q)))) for qid, q in _BATCH_QUERIES.items()],
        "query_id string, n_terms long",
    )
    union_terms = sorted({t for _, t in qt})
    # qrels: docs containing ALL the query's terms — a dictionary-
    # filtered posting scan (row-group pruned isin) + broadcast query
    # map, the conjunctive_topk shape.
    qrels = (
        idx.postings.where(F.col("term").isin(union_terms))
        .select("term", "doc_id")
        .join(F.broadcast(qt_df), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_nt"))
        .join(F.broadcast(nt_df), "query_id")
        .where(F.col("_nt") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    return rank_eval(results, qrels, k=5)


def _q_segments_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr /admin/segments analog (operators/terms.segments_report):
    per doc-id-range shard doc/posting/vocabulary accounting, the
    store-layout introspection next to the whole-core luke_report."""
    from solr_ocr_processor_spark.operators.terms import segments_report

    return segments_report(_index(spark, sf_dir), shard_width=128)


def _q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle (operators/split
    .training_order): seeded md5 permutation + contiguous balanced
    shard slices, via the two-pass parallel rank (no partitionless
    window)."""
    from solr_ocr_processor_spark.operators.split import training_order

    return training_order(
        _docs(spark, sf_dir), seed="seed0", n_shards=8
    ).orderBy("position")


def _q_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch replication plan (operators/split
    .epoch_schedule): the up-sampling dual of mixture_sample —
    floor(e) guaranteed copies per doc plus a content-addressed
    fractional copy; src0 x2.5, src1 x1, src2 x0.25, others 0."""
    from solr_ocr_processor_spark.operators.split import epoch_schedule

    return epoch_schedule(
        _docs(spark, sf_dir), {"src0": 2.5, "src1": 1.0, "src2": 0.25}
    ).orderBy("doc_id", "epoch")


def _q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (operators/split.curriculum_order):
    easy-to-hard NTILE(4) buckets over n_chars with a seeded md5
    shuffle inside each bucket; position via the two-pass parallel
    rank (no partitionless window)."""
    from solr_ocr_processor_spark.operators.split import curriculum_order

    return curriculum_order(
        _docs(spark, sf_dir), score_col="n_chars", n_buckets=4, seed="cur0"
    ).orderBy("position")


def _q_stream_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr graph streaming expression (operators/stream_expr nodes
    verb): one-hop walk doc_id->src over the deterministic edge
    relation from a 5-doc root page, gathered dst nodes with in-walk
    counts."""
    from solr_ocr_processor_spark.operators.graph import synth_edges
    from solr_ocr_processor_spark.operators.stream_expr import compile_stream

    tables = {
        **_stream_tables(spark, sf_dir),
        "edges": synth_edges(_docs(spark, sf_dir)),
    }
    expr = (
        'nodes(edges, search(documents, q="doc_id:[0 TO 4]", fl="doc_id"), '
        'walk="doc_id->src", gather="dst")'
    )
    return compile_stream(expr, tables).orderBy("node")


def _q_range_facet_include(spark: SparkSession, sf_dir: str) -> DataFrame:
    """facet.range.include=all (operators/facet.range_facet_include):
    every bucket closed on both sides — boundary values double-count
    in adjacent buckets, before/after own their boundary via outer —
    the full FacetRangeInclude envelope next to other/hardend."""
    from solr_ocr_processor_spark.operators.facet import range_facet_include

    return range_facet_include(
        _docs(spark, sf_dir), "n_chars", start=150, end=1100, gap=250,
        include=("all",),
    )


def _q_terms_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr terms.prefix knob (operators/terms.terms_enum(prefix=)):
    literal prefix enumeration with mincount, StartsWith row-group
    pruning on the term-sorted dictionary."""
    from solr_ocr_processor_spark.operators.terms import terms_enum

    return terms_enum(
        spark, _index(spark, sf_dir), prefix="s", mincount=2, limit=10
    )


def _q_stream_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr shortestPath() streaming expression (operators/graph
    .shortest_path): min-parent BFS + distributed backtrack over the
    deterministic edge relation, from node 0 to the node three j=0
    hops out — (step, node) rows of THE tie-broken shortest path."""
    from solr_ocr_processor_spark.operators.graph import (
        shortest_path,
        synth_edges,
    )

    docs = _docs(spark, sf_dir)
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    d1 = 1 % n
    d2 = (31 * d1 + 1) % n
    d3 = (31 * d2 + 1) % n
    return shortest_path(synth_edges(docs), 0, d3, max_depth=6)


def _q_stream_scorenodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr scoreNodes() streaming expression (operators/graph
    .score_nodes): one-hop gather from the doc_id 0..4 root set,
    scored walk-count x ln((n+1)/(indeg+1)) — the idf-weighted graph
    relevance that keeps hub nodes from drowning discriminative ones."""
    from solr_ocr_processor_spark.operators.graph import (
        score_nodes,
        synth_edges,
    )

    docs = _docs(spark, sf_dir)
    n = docs.count()
    roots = (
        docs.where("doc_id BETWEEN 0 AND 4")
        .select(F.col("doc_id").cast("long").alias("node"))
        .distinct()
    )
    return score_nodes(synth_edges(docs), roots, n_nodes=n, k=10)


def _q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF preference-pair mining (operators/conversation
    .preference_pairs): repeated user prompts with divergent assistant
    replies -> (chosen, rejected) by distinct-token reward, unique
    under the shared row_number tie-break."""
    from solr_ocr_processor_spark.operators.conversation import (
        preference_pairs,
    )

    return preference_pairs(derive_transcripts(spark, sf_dir, TW), min_replies=2)


def _q_winnow_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing (operators/dedup.winnow_common_spans): k=8-gram
    md5 window-min fingerprints, cross-doc shared spans >= 2 docs —
    the boilerplate detector with the k+w-1 shared-substring
    guarantee."""
    from solr_ocr_processor_spark.operators.dedup import winnow_common_spans

    return winnow_common_spans(_docs(spark, sf_dir), k=8, w=4, min_docs=2)


def _q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (operators/dedup.winnow_pairs):
    fp-bucket join with ubiquity cull, containment sim =
    shared / min(|A|,|B|) >= 0.5 — the MOSS match report."""
    from solr_ocr_processor_spark.operators.dedup import winnow_pairs

    return winnow_pairs(_docs(spark, sf_dir), k=8, w=4, tau=0.5, max_df=50)


def _q_dedup_winnow_pairs_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing family's PRODUCTION hash path (round 4 — the fix
    the r3 docstring promised): gram hash = integer Rabin-Karp
    polynomial over char codes (Σ code·B^j mod 2³¹−1) in one
    vectorized Arrow kernel — no md5, no localCheckpoint fence, ~2.4x
    faster at sf0.1 and zero checkpoint storage at 10^12. Same window
    minima, cull, and pair report as dedup_winnow_pairs; the oracle
    replays the identical integer polynomial relationally."""
    from solr_ocr_processor_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _docs(spark, sf_dir), k=8, w=4, tau=0.5, max_df=50, hasher="poly"
    )


def _q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 token-budget mixture plan (operators/pipeline
    .token_budget_plan): per-source target tokens + epochs under a
    0.6x-corpus budget with sqrt-mass weights."""
    from solr_ocr_processor_spark.operators.pipeline import token_budget_plan

    return token_budget_plan(_docs(spark, sf_dir), budget_frac=0.6)


def _q_segments_merge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered merge planning (operators/lifecycle
    .tiered_merge_plan): bit-length tiers over the (source,lang)
    segment census, complete merge_factor=4 candidates of
    similar-sized segments — the TieredMergePolicy analog that drives
    compact/fold-in."""
    from solr_ocr_processor_spark.operators.lifecycle import tiered_merge_plan

    segs = (
        _docs(spark, sf_dir)
        .groupBy(F.concat_ws(":", "source", "lang").alias("seg"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return tiered_merge_plan(segs, merge_factor=4)


def _q_ann_hard_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FaceNet hard-triplet mining (operators/ann.hard_triplets):
    per-anchor hardest positive (min same-label cos) + hardest
    negative (max other-label cos), margin < 0 = violated triplet —
    the contrastive-training data miner over the embeddings table."""
    from solr_ocr_processor_spark.operators.ann import hard_triplets

    return hard_triplets(_embs(spark, sf_dir), n_anchors=32)


def _q_geofilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Solr spatial {!geofilt}+geodist() (operators/spatial
    .geofilt_topk): haversine radius filter + nearest-first sort over
    the deterministic coordinate grid, pt=(12.5,45), d=3000 km."""
    from solr_ocr_processor_spark.operators.spatial import (
        geofilt_topk,
        synth_coords,
    )

    return geofilt_topk(
        synth_coords(_docs(spark, sf_dir)), 12.5, 45.0, 3000.0, k=20
    )


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence funnel view->click->purchase
    (operators/analytics.funnel): per-step reach counts + step-over-
    step conversion, one conditional-min aggregate."""
    from solr_ocr_processor_spark.operators.analytics import funnel

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel(events, ["view", "click", "purchase"])


def _q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch cohort retention (operators/analytics
    .retention_cohorts): day-0 cohorts x day offsets 0..7, distinct
    active users per cell."""
    from solr_ocr_processor_spark.operators.analytics import retention_cohorts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = retention_cohorts(events, max_offset_days=7)
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_users",
    ).orderBy("cohort_day", "day_offset")


def _q_rank_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@5 (operators/eval.ndcg_at_k) over the batched BM25
    workload: grade = number of distinct query terms the doc contains,
    gain 2^g−1, log2 discount, deterministic ideal page — the graded
    companion to rank_eval's binary metrics."""
    from solr_ocr_processor_spark.functions.tokenizer import query_terms
    from solr_ocr_processor_spark.operators.eval import ndcg_at_k
    from solr_ocr_processor_spark.operators.score import bm25_batch_topk

    idx = _index(spark, sf_dir)
    results = bm25_batch_topk(spark, idx, _BATCH_QUERIES, k=5).select(
        "query_id", "rank", "doc_id"
    )
    qt = [
        (qid, t) for qid, q in _BATCH_QUERIES.items() for t in set(query_terms(q))
    ]
    qt_df = spark.createDataFrame(qt, "query_id string, term string")
    union_terms = sorted({t for _, t in qt})
    qrels = (
        idx.postings.where(F.col("term").isin(union_terms))
        .select("term", "doc_id")
        .join(F.broadcast(qt_df), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("grade"))
    )
    return ndcg_at_k(results, qrels, k=5)


def _q_geofilt_cells_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-pruned geofilt (operators/spatial.cell_geofilt_topk): the
    partition-pruning shape of the spatial query — coarse grid cells
    culled against the circle's conservative bbox before exact
    haversine. The ORACLE is the brute formulation, so the hash match
    proves the pruning lossless."""
    from solr_ocr_processor_spark.operators.spatial import (
        cell_geofilt_topk,
        synth_coords,
    )

    return cell_geofilt_topk(
        synth_coords(_docs(spark, sf_dir)), 12.5, 45.0, 3000.0, k=20,
        cell_deg=5.0,
    )


def _q_ann_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction MaxSim (operators/ann
    .maxsim_topk): multi-vector doc bags (pmod groups), score =
    Σ_q max_d cos — the retrieval model single-vector ANN can't
    express."""
    from solr_ocr_processor_spark.operators.ann import maxsim_topk

    return maxsim_topk(_embs(spark, sf_dir), query_group=0, n_groups=50, k=10)


def _q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption budget plan (operators/pipeline
    .span_corruption_plan): per-doc corrupt/span counts and
    encoder/decoder lengths at density 0.15, mean span 3 — the table
    pack_sequences sizes its bins from. First 200 docs."""
    from solr_ocr_processor_spark.operators.pipeline import (
        span_corruption_plan,
    )

    return span_corruption_plan(
        _docs(spark, sf_dir), noise_density=0.15, mean_span_len=3.0
    ).where(F.col("doc_id") < 200)


def _q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.pagerank): 10 power
    rounds over the deterministic edge relation, lineage truncated per
    round — the centrality companion to the BFS graph verbs. Ordered
    by ROUNDED rank so float noise cannot reorder ties across
    engines."""
    from solr_ocr_processor_spark.operators.graph import pagerank, synth_edges

    docs = _docs(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").cast("long").alias("node"))
    return pagerank(synth_edges(docs), nodes, iters=10, damping=0.85, k=20)


def _q_conv_topic_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical topic segmentation (operators/conversation
    .topic_segments): TextTiling's adjacent-similarity rule at turn
    granularity — boundaries where distinct-token Jaccard < 0.2."""
    from solr_ocr_processor_spark.operators.conversation import topic_segments

    return topic_segments(derive_transcripts(spark, sf_dir, TW), tau=0.2)


def _q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (functions/textstats.vocab_growth):
    distinct-term and token counts at 10% corpus prefixes via the
    first-occurrence histogram — one aggregate, not ten scans."""
    from solr_ocr_processor_spark.functions.textstats import vocab_growth

    return vocab_growth(_docs(spark, sf_dir), n_steps=10)


def _q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume anomalies per event type (operators/analytics
    .daily_anomalies): z-scores against each type's own daily
    distribution, top-20 by |z|."""
    from solr_ocr_processor_spark.operators.analytics import daily_anomalies

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return daily_anomalies(events, z_thresh=2.0, k=20)


def _q_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup accounting (operators/dedup
    .cdc_chunk_stats): rolling-hash boundaries (h % 64 == 0), per-
    source chunk counts / uniqueness / reclaimable ratio — the
    blob-store dedup view."""
    from solr_ocr_processor_spark.operators.dedup import cdc_chunk_stats

    return cdc_chunk_stats(_docs(spark, sf_dir), k=8, modulus=64)


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit (operators/split.split_leakage):
    MinHash near-dup pairs bucketed by similarity band, counting
    pairs whose members straddle the 90/5/5 hash split — the sibling
    contamination doc-level decontamination misses.

    Oracle data-dependence (deliberate): the Spark side feeds
    minhash_lsh_pairs (b=32/r=4 banded CANDIDATES, exact-verified)
    while the DuckDB twin computes the exact all-pairs jaccard>=0.3
    join. A band at jaccard j survives LSH with p = 1-(1-j^4)^32 —
    ~1.0 at the sandbox's ~0.9-jaccard near-dups but only ~23% at
    j=0.3 — so the hash match holds because the synthetic corpus has
    no mid-band (0.3-0.7) pairs, the same argument recorded at the
    dedup_minhash_lsh oracle. If the generator ever grows mid-band
    pairs, re-point this query at the exact ngram_jaccard_pairs
    spine or extend the oracle to replay the band/bucket step."""
    from solr_ocr_processor_spark.operators.split import split_leakage

    docs = _docs(spark, sf_dir)
    return split_leakage(docs, minhash_lsh_pairs(docs, n=3, tau=0.3))


def _q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-split census (operators/split.cluster_split):
    near-dup components co-assigned to splits via their
    representative's hash — zero cross-split leakage by
    construction.

    Oracle data-dependence: same LSH-candidates-vs-exact-oracle
    argument as _q_split_leakage (see its docstring) — valid while
    the synthetic near-dups stay far above the j=0.3 band floor."""
    from solr_ocr_processor_spark.operators.split import cluster_split

    docs = _docs(spark, sf_dir)
    return cluster_split(docs, minhash_lsh_pairs(docs, n=3, tau=0.3))


def _q_sft_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask accounting (operators/conversation
    .loss_mask_stats): trainable (assistant) vs context token mass per
    conversation — the effective-budget table for packers and lr
    schedules."""
    from solr_ocr_processor_spark.operators.conversation import (
        loss_mask_stats,
    )

    return loss_mask_stats(derive_transcripts(spark, sf_dir, TW))


def _q_ann_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal k-NN pairs (operators/ann.mutual_knn): (i, j) in
    each other's cosine top-5 over the bounded 500-vector panel —
    the hub-resistant matching graph (k-reciprocal encoding)."""
    from solr_ocr_processor_spark.operators.ann import mutual_knn

    return mutual_knn(_embs(spark, sf_dir), k=5, max_id=500)


_hnsw_cache: dict = {}


def _hnsw_store(spark: SparkSession, sf_dir: str):
    """Persisted per-segment HNSW graphs over the sf embeddings
    (Lucene's per-segment {!knn} layout, operators/hnsw.py), built
    once per session like _ann_store."""
    from solr_ocr_processor_spark.operators.hnsw import build_hnsw_store

    key = (id(spark), sf_dir)
    if key not in _hnsw_cache:
        import atexit
        import os
        import re
        import shutil

        tag = re.sub(r"[^A-Za-z0-9.]", "_", sf_dir.strip("/"))
        root = f"/tmp/spark_graft_hnsw_{tag}_{os.getpid()}"
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _hnsw_cache[key] = build_hnsw_store(
            spark, _embs(spark, sf_dir), root, dim=64, seg_size=256
        )
    return _hnsw_cache[key]


def _q_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment HNSW {!knn} (operators/hnsw.hnsw_topk_stored):
    deterministic graph build (md5 levels, ascending-id insertion,
    id-asc tie-breaks), per-segment greedy descent + ef-beam, global
    exact-cosine merge. Probed at ef = seg_size, where the beam is
    exhaustive per segment and the result provably equals the brute
    scan — so the brute-force SQL IS the oracle (the full-probe ==
    brute discipline of the IVF/PQ stores); approximate-ef recall and
    build determinism are pytest-asserted."""
    from solr_ocr_processor_spark.operators.hnsw import hnsw_topk_stored

    store = _hnsw_store(spark, sf_dir)
    return hnsw_topk_stored(
        spark, store, _qvec(spark, sf_dir), k=10, ef=store.seg_size
    )


def _q_ann_hnsw_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched per-segment HNSW (operators/hnsw.hnsw_batch_topk,
    round-5): Q queries share ONE pass over the stored graphs — the
    grouped kernel parses each segment once and probes every query
    against it, so store scan + shuffle cost is per batch, not per
    query (the bm25_batch_topk amortization; plan-asserted single-scan
    in tests). Probed at ef = seg_size where the undirected level-0
    beam is provably exhaustive, so the per-qid brute-force scan IS
    the oracle."""
    from solr_ocr_processor_spark.operators.hnsw import hnsw_batch_topk

    store = _hnsw_store(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    queries = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in embs.where(F.col("vec_id").isin(0, 17, 100)).collect()
    ]
    return hnsw_batch_topk(spark, store, queries, k=10, ef=store.seg_size)


def _q_ann_mutual_knn_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-probed reciprocal k-NN (operators/ann_store.
    mutual_knn_stored): each side's top-5 comes from the persisted
    IVF lists' candidates (nprobe=4 of 16, co-located list_id join —
    the 10^12-scale formulation the panel version's docstring named,
    now implemented), mutuality via the reversed-key semi-join. The
    oracle replays centroid seeding, assignment, probe selection,
    candidate top-k, and the mutual filter relationally."""
    from solr_ocr_processor_spark.operators.ann_store import mutual_knn_stored

    return mutual_knn_stored(
        spark, _ann_store(spark, sf_dir), k=5, max_id=500, nprobe=4
    )


def _q_ann_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF store probe (operators/ann_store.
    ivf_batch_topk_stored, round-5): Q queries rank the persisted
    centroid panel driver-side, the UNION of probed lists is read in
    ONE partition-pruned scan (plan-asserted in tests), candidates fan
    out to their probing queries via a broadcast map, exact cosine in
    one Arrow kernel, per-qid rank. The oracle replays seeding,
    assignment, per-query probe selection, and the per-qid top-k
    relationally — the same probed-formulation discipline as
    ann_mutual_knn_stored."""
    from solr_ocr_processor_spark.operators.ann_store import (
        ivf_batch_topk_stored,
    )

    store = _ann_store(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    queries = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in embs.where(F.col("vec_id").isin(0, 17, 100)).collect()
    ]
    return ivf_batch_topk_stored(spark, store, queries, k=10, nprobe=4)


def _q_ann_lsh_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched LSH store probe (operators/ann_store.
    lsh_batch_topk_stored, round-5): the union of Q queries'
    multi-probe (band, bucket) sets drives ONE pruned scan of the LSH
    table (PartitionFilters on band/bdir, bucket row-group pruning),
    candidates fan out via a broadcast probe map, shared Arrow cosine
    + per-qid rank tail. Oracle replays each query's Hamming-radius
    probe relationally (bit_count(xor) <= 1), per qid."""
    from solr_ocr_processor_spark.operators.ann_store import (
        lsh_batch_topk_stored,
    )

    store = _ann_store(spark, sf_dir)
    embs = _embs(spark, sf_dir)
    queries = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in embs.where(F.col("vec_id").isin(0, 17, 100)).collect()
    ]
    return lsh_batch_topk_stored(spark, store, queries, k=10, radius=1)


def _q_ann_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-balance report over the PERSISTED ANN store
    (operators/ann_store): per-list vector counts + share — the
    index-quality diagnostic that decides when centroids need
    re-seeding (a hot list degrades probe cost toward brute force)."""
    store = _ann_store(spark, sf_dir)
    ivf = spark.read.parquet(store.path("ivf"))
    per = ivf.groupBy(F.col("list_id").cast("int").alias("list_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    total = per.agg(F.sum("n_vecs").cast("double").alias("t"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "list_id",
            "n_vecs",
            F.round(F.col("n_vecs") / F.col("t"), 6).alias("share"),
        )
        .orderBy("list_id")
    )


def _q_ocr_alto_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ALTO ingestion (operators/ocr_ingest.alto_e2e_topk):
    synthesize real ALTO XML documents from the documents table, then
    run the reference's whole ingest flow as ONE declarative plan —
    1,200-char format sniff, measurement-unit + xdpi extraction (with
    the 300-dpi config fallback on odd docs), inch1200 / mm10 / pixel
    coordinate conversion on Page dims and String coords, skip-empty
    token numbering — and finish with BM25 top-10 over the parsed
    corpus, each winner carrying its first query-term hit's pixel
    bbox (the IIIF-snippet-coordinate analog). The oracle replays the
    layout + conversion + scoring relationally WITHOUT the XML round
    trip, so a hash match proves generation∘parse is lossless."""
    from solr_ocr_processor_spark.operators.ocr_ingest import alto_e2e_topk

    return alto_e2e_topk(_docs(spark, sf_dir), n_docs=60, n_tokens=24)


def _q_ocr_hocr_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hOCR ingestion (operators/ocr_ingest.hocr_e2e_topk):
    the hOCR sibling — class-attr word spans with bbox CORNERS in
    title attributes, rewritten to extents (hpos=x0, vpos=y0,
    width=x1−x0, height=y1−y0; app/process/hocr.go:148-168), page
    dims from the reference's `bbox 0 0 w h` page regex, then the
    same BM25+first-hit leg as the ALTO twin."""
    from solr_ocr_processor_spark.operators.ocr_ingest import hocr_e2e_topk

    return hocr_e2e_topk(_docs(spark, sf_dir), n_docs=60, n_tokens=24)


def _q_ocr_miniocr_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MiniOCR artifact render (operators/ocr_ingest.miniocr_render):
    the output side of convertToMiniOcr — `<ocr><p xml:id wh><b><l>
    <w x="h v w h">word </w>` with the trailing-space, skip-empty and
    full-index quote-swap quirks; string-equality against a DuckDB
    string-assembly twin."""
    from solr_ocr_processor_spark.operators.ocr_ingest import miniocr_render

    return miniocr_render(_docs(spark, sf_dir), n_docs=40, n_tokens=24)


# The driver's correctness gate checks the FIRST 50 queries() entries
# (CORRECTNESS_r0N records exactly the head of this dict). Rounds 1-3
# kept one static head; round 4 rotated it onto the never-checked
# ANN/dedup/graph/pipeline families; round 5 rotates again,
# disjoint-maximal vs r4's head (r4 verdict item 6): a few flagships
# stay for regression continuity, this round's new/changed queries are
# hard-gated, and the remaining 42 slots cover the facet / streaming-
# expression / conversation / terms / spellcheck long tail the driver
# has never checked. Every query NOT in the head is still verified by
# the committed ORACLE_SWEEP artifact (tools/check_oracle.py over the
# full dict).
_DRIVER_HEAD = [
    # regression continuity
    "doc_materialize", "bm25_topk", "bm25_wand_topk",
    "highlight_offsets",
    # round-5 new / changed paths
    "ann_hnsw_batch_topk",      # new: batched HNSW, exhaustive-ef oracle
    "dedup_containment",        # now routed through the plan dispatcher
    "ann_mutual_knn_stored",    # oracle probe-side fix re-gated
    "stream_near_dedup",        # replay-idempotent rewrite re-gated
    # never driver-checked: facet family
    "facet_counts", "date_facet_counts", "pivot_facet_counts",
    "facet_interval", "facet_query_counts", "facet_mincount",
    "facet_contains", "facet_range_other", "range_facet_include",
    "group_facet_counts",
    # never driver-checked: streaming expressions
    "stream_rollup", "stream_hashjoin", "stream_complement",
    "stream_facet", "stream_stats", "stream_fetch", "stream_cartesian",
    "sql_select", "stream_topic", "stream_nodes",
    # never driver-checked: conversation ops
    "sft_pairs", "conv_lint", "refusal_profile", "template_turns",
    "template_exchanges", "conv_topic_segments", "tool_transitions",
    "role_stats",
    # never driver-checked: terms / text statistics
    "terms_enum", "term_vectors", "significant_terms", "collocations",
    "bpe_merges", "freq_spectrum", "vocab_growth", "term_drift",
    "tokenizer_fertility",
    # never driver-checked: expand / spellcheck
    "mlt_topk", "suggest_terms", "spellcheck", "spellcheck_collate",
    "spellcheck_popular",
]


def _q_ocr_alto_multipage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's per-item multi-file loop end-to-end
    (operators/ocr_ingest.alto_multipage_e2e): an ordered file list
    with empty-body holes, skip-then-number dense Page.{position}
    ordinals (app/handler/indexer.go:98-148 — the misordered-pages ⇒
    wrong-highlights invariant the reference warns about), per-file
    sniff + unit/dpi conversion. One row per PROCESSED file."""
    from solr_ocr_processor_spark.operators.ocr_ingest import alto_multipage_e2e

    return alto_multipage_e2e(_docs(spark, sf_dir), n_docs=20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_base()
    head = {k: base[k] for k in _DRIVER_HEAD}
    head.update({k: v for k, v in base.items() if k not in head})
    return head


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "doc_materialize": _q_doc_materialize,
        "turn_ordinals": _q_turn_ordinals,
        "term_stats": _q_term_stats,
        "bm25_topk": _q_bm25_topk,
        "bm25_wand_topk": _q_bm25_wand_topk,
        "conjunctive_topk": _q_conjunctive_topk,
        "phrase_match": _q_phrase_match,
        "phrase_topk": _q_phrase_topk,
        "proximity_topk": _q_proximity_topk,
        "rerank_topk": _q_rerank_topk,
        "boolean_not_topk": _q_boolean_not_topk,
        "boolean_nested_topk": _q_boolean_nested_topk,
        "prefix_topk": _q_prefix_topk,
        "fuzzy_topk": _q_fuzzy_topk,
        "wildcard_topk": _q_wildcard_topk,
        "regexp_topk": _q_regexp_topk,
        "mm_topk": _q_mm_topk,
        "group_topk": _q_group_topk,
        "boosted_topk": _q_boosted_topk,
        "mlt_topk": _q_mlt_topk,
        "suggest_terms": _q_suggest_terms,
        "spellcheck": _q_spellcheck,
        "facet_counts": _q_facet_counts,
        "date_facet_counts": _q_date_facet_counts,
        "pivot_facet_counts": _q_pivot_facet_counts,
        "stats_dl": _q_stats_dl,
        "group_stats": _q_group_stats,
        "doc_split": _q_doc_split,
        "doc_sample": _q_doc_sample,
        "mixture_sample": _q_mixture_sample,
        "pack_sequences": _q_pack_sequences,
        "pii_redact": _q_pii_redact,
        "collapse_topk": _q_collapse_topk,
        "sort_topk": _q_sort_topk,
        "paged_topk": _q_paged_topk,
        "filtered_topk": _q_filtered_topk,
        "frange_topk": _q_frange_topk,
        "events_windowed": _q_events_windowed,
        "events_sliding": _q_events_sliding,
        "events_sessions": _q_events_sessions,
        "terms_enum": _q_terms_enum,
        "term_vectors": _q_term_vectors,
        "join_topk": _q_join_topk,
        "hybrid_rrf_topk": _q_hybrid_rrf_topk,
        "lm_doc_nll": _q_lm_doc_nll,
        "lm_bigram_nll": _q_lm_bigram_nll,
        "bm25f_topk": _q_bm25f_topk,
        "group_ngroups": _q_group_ngroups,
        "collapse_expand": _q_collapse_expand,
        "group_sorted_topk": _q_group_sorted_topk,
        "function_fields": _q_function_fields,
        "fragment_snippets": _q_fragment_snippets,
        "fragment_snippets_multi": _q_fragment_snippets_multi,
        "bm25_batch_topk": _q_bm25_batch_topk,
        "tool_facet_missing": _q_tool_facet_missing,
        "dup_span_profile": _q_dup_span_profile,
        "dup_span_trim": _q_dup_span_trim,
        "stats_percentiles": _q_stats_percentiles,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "membership_check": _q_membership_check,
        "projection_limit": _q_projection_limit,
        "delete_by_query": _q_delete_by_query,
        "highlight_offsets": _q_highlight_offsets,
        "phrase_highlight_offsets": _q_phrase_highlight_offsets,
        "phrase_snippet_render": _q_phrase_snippet_render,
        "snippet_render": _q_snippet_render,
        "dedup_exact": _q_dedup_exact,
        "dedup_ngram_jaccard": _q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": _q_dedup_minhash_lsh,
        "dedup_clusters": _q_dedup_clusters,
        "corpus_export": _q_corpus_export,
        "stream_dedup": _q_stream_dedup,
        "decontaminate": _q_decontaminate,
        "dedup_simhash": _q_dedup_simhash,
        "simhash_near_pairs": _q_simhash_near_pairs,
        "dedup_embedding_cosine": _q_dedup_embedding_cosine,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "knn_filtered_topk": _q_knn_filtered_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_int8_topk": _q_ann_int8_topk,
        "ann_pq_topk": _q_ann_pq_topk,
        "dedup_embedding_lsh": _q_dedup_embedding_lsh,
        "text_token_count": _q_text_token_count,
        "text_token_bpe": _q_text_token_bpe,
        "text_quality": _q_text_quality,
        "text_lang_id": _q_text_lang_id,
        "text_fingerprint": _q_text_fingerprint,
        "text_repetition": _q_text_repetition,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frames": _q_multimodal_frames,
        "multimodal_resize": _q_multimodal_resize,
        "ocr_sniff_format": _q_ocr_sniff_format,
        "ocr_unit_px": _q_ocr_unit_px,
        "ocr_dpi_extract": _q_ocr_dpi_extract,
        "ocr_hocr_bbox": _q_ocr_hocr_bbox,
        "ocr_response_fixup": _q_ocr_response_fixup,
        "ocr_xml_escape": _q_ocr_xml_escape,
        "cursor_topk": _q_cursor_topk,
        "significant_terms": _q_significant_terms,
        "facet_query_counts": _q_facet_query_counts,
        "json_facet_nested": _q_json_facet_nested,
        "graph_expand": _q_graph_expand,
        "paragraph_dedup": _q_paragraph_dedup,
        "domain_cap": _q_domain_cap,
        "export_sorted": _q_export_sorted,
        "parent_topk": _q_parent_topk,
        "child_expand": _q_child_expand,
        "elevation_topk": _q_elevation_topk,
        "atomic_update": _q_atomic_update,
        "blocklist_profile": _q_blocklist_profile,
        "incremental_dedup": _q_incremental_dedup,
        "stream_near_dedup": _q_stream_near_dedup,
        "ltr_topk": _q_ltr_topk,
        "facet_interval": _q_facet_interval,
        "realtime_get": _q_realtime_get,
        "spellcheck_collate": _q_spellcheck_collate,
        "length_histogram": _q_length_histogram,
        "synonym_topk": _q_synonym_topk,
        "bq_topk": _q_bq_topk,
        "gopher_rules": _q_gopher_rules,
        "sft_pairs": _q_sft_pairs,
        "score_explain": _q_score_explain,
        "stream_rollup": _q_stream_rollup,
        "stream_hashjoin": _q_stream_hashjoin,
        "stream_complement": _q_stream_complement,
        "stream_facet": _q_stream_facet,
        "stream_stats": _q_stream_stats,
        "stream_fetch": _q_stream_fetch,
        "stream_cartesian": _q_stream_cartesian,
        "sql_select": _q_sql_select,
        "semantic_dedup": _q_semantic_dedup,
        "stats_cardinality": _q_stats_cardinality,
        "dsir_importance": _q_dsir_importance,
        "dsir_resample": _q_dsir_resample,
        "lm_ppl_buckets": _q_lm_ppl_buckets,
        "group_facet_counts": _q_group_facet_counts,
        "luke_report": _q_luke_report,
        "term_boost_topk": _q_term_boost_topk,
        "pf_topk": _q_pf_topk,
        "stream_timeseries": _q_stream_timeseries,
        "facet_range_other": _q_facet_range_other,
        "constant_score_topk": _q_constant_score_topk,
        "vocab_coverage": _q_vocab_coverage,
        "dismax_tie_topk": _q_dismax_tie_topk,
        "pf2_topk": _q_pf2_topk,
        "c4_rules": _q_c4_rules,
        "chunk_overlap": _q_chunk_overlap,
        "quality_classifier": _q_quality_classifier,
        "hybrid_blend_topk": _q_hybrid_blend_topk,
        "stopstem_topk": _q_stopstem_topk,
        "tool_transitions": _q_tool_transitions,
        "conv_lint": _q_conv_lint,
        "ann_ivfpq_topk": _q_ann_ivfpq_topk,
        "ann_matryoshka_topk": _q_ann_matryoshka_topk,
        "passage_topk": _q_passage_topk,
        "rm3_topk": _q_rm3_topk,
        "ltr_features": _q_ltr_features,
        "source_overlap": _q_source_overlap,
        "lmdir_topk": _q_lmdir_topk,
        "prf_vector_topk": _q_prf_vector_topk,
        "text_ngram_diversity": _q_text_ngram_diversity,
        "refusal_profile": _q_refusal_profile,
        "template_turns": _q_template_turns,
        "payload_score_topk": _q_payload_score_topk,
        "analysis_chain": _q_analysis_chain,
        "mlt_interesting_terms": _q_mlt_interesting_terms,
        "dedup_containment": _q_dedup_containment,
        "dedup_containment_banded": _q_dedup_containment_banded,
        "tokenizer_fertility": _q_tokenizer_fertility,
        "knn_postfilter_topk": _q_knn_postfilter_topk,
        "code_profile": _q_code_profile,
        "collocations": _q_collocations,
        "stream_topic": _q_stream_topic,
        "facet_contains": _q_facet_contains,
        "dedup_keep_best": _q_dedup_keep_best,
        "percolate": _q_percolate,
        "composite_route": _q_composite_route,
        "suggest_context": _q_suggest_context,
        "vector_stats": _q_vector_stats,
        "bpe_merges": _q_bpe_merges,
        "ann_recall": _q_ann_recall,
        "term_drift": _q_term_drift,
        "span_near_topk": _q_span_near_topk,
        "dedup_normalized": _q_dedup_normalized,
        "corpus_diff": _q_corpus_diff,
        "role_stats": _q_role_stats,
        "length_buckets": _q_length_buckets,
        "freq_spectrum": _q_freq_spectrum,
        "zipf_fit": _q_zipf_fit,
        "template_exchanges": _q_template_exchanges,
        "facet_mincount": _q_facet_mincount,
        "spellcheck_popular": _q_spellcheck_popular,
        "shard_skew": _q_shard_skew,
        "dup_rate_by_source": _q_dup_rate_by_source,
        "json_props_stats": _q_json_props_stats,
        "result_clusters": _q_result_clusters,
        "rank_eval": _q_rank_eval,
        "segments_report": _q_segments_report,
        "training_order": _q_training_order,
        "epoch_schedule": _q_epoch_schedule,
        "curriculum_order": _q_curriculum_order,
        "stream_nodes": _q_stream_nodes,
        "range_facet_include": _q_range_facet_include,
        "terms_prefix": _q_terms_prefix,
        "stream_shortest_path": _q_stream_shortest_path,
        "stream_scorenodes": _q_stream_scorenodes,
        "preference_pairs": _q_preference_pairs,
        "winnow_common_spans": _q_winnow_common_spans,
        "dedup_winnow_pairs": _q_dedup_winnow_pairs,
        "dedup_winnow_pairs_poly": _q_dedup_winnow_pairs_poly,
        "token_budget_plan": _q_token_budget_plan,
        "segments_merge_plan": _q_segments_merge_plan,
        "ann_hard_triplets": _q_ann_hard_triplets,
        "geofilt_topk": _q_geofilt_topk,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "rank_ndcg": _q_rank_ndcg,
        "geofilt_cells_topk": _q_geofilt_cells_topk,
        "ann_maxsim_topk": _q_ann_maxsim_topk,
        "span_corruption_plan": _q_span_corruption_plan,
        "graph_pagerank": _q_graph_pagerank,
        "conv_topic_segments": _q_conv_topic_segments,
        "vocab_growth": _q_vocab_growth,
        "events_anomaly": _q_events_anomaly,
        "cdc_chunk_stats": _q_cdc_chunk_stats,
        "split_leakage": _q_split_leakage,
        "cluster_split": _q_cluster_split,
        "sft_loss_mask": _q_sft_loss_mask,
        "ann_mutual_knn": _q_ann_mutual_knn,
        "ann_mutual_knn_stored": _q_ann_mutual_knn_stored,
        "ann_hnsw_topk": _q_ann_hnsw_topk,
        "ann_hnsw_batch_topk": _q_ann_hnsw_batch_topk,
        "ann_ivf_batch_topk": _q_ann_ivf_batch_topk,
        "ann_lsh_batch_topk": _q_ann_lsh_batch_topk,
        "ann_ivf_balance": _q_ann_ivf_balance,
        "ocr_alto_e2e": _q_ocr_alto_e2e,
        "ocr_alto_multipage_e2e": _q_ocr_alto_multipage,
        "ocr_hocr_e2e": _q_ocr_hocr_e2e,
        "ocr_miniocr_render": _q_ocr_miniocr_render,
    }


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB ANSI SQL twins
# ---------------------------------------------------------------------------

_CTE = oracle_transcripts_cte(TW)

# Dense-ordinal turns (filter empties BEFORE numbering) + char offsets.
_TURNS = """
turns AS (
  SELECT conv_id, turn_idx, ts, text,
         CAST(row_number() OVER w - 1 AS INT) AS ordinal,
         CAST(coalesce(sum(length(text) + 1) OVER (
             PARTITION BY conv_id ORDER BY turn_idx, ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS char_start,
         CAST(coalesce(sum(length(text) + 1) OVER (
             PARTITION BY conv_id ORDER BY turn_idx, ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + length(text) AS BIGINT) AS char_end
  FROM transcripts
  WHERE length(trim(text)) > 0
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
)
"""

# Materialized docs with dense deterministic doc ids (row_number over
# sorted conv_id) — doc text equals the source document text, so token
# stats can be computed straight off `documents`.
_DOCS = """
docs AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
ids AS (
  SELECT conv_id, toks,
         CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS doc_id,
         CAST(len(toks) AS BIGINT) AS dl
  FROM docs
)
"""

_BM25 = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""


# Conjunctive: same BM25 pipeline, gated on all terms present.
_CONJ = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw,
         count(*) AS n_matched
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored WHERE n_matched = {len(FLAGSHIP_TERMS)}
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""

_PHRASE_T = ("table", "value")

_PHRASE_ANCHORS = f"""
tokp AS (
  SELECT doc_id, conv_id, dl, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM ids
),
a0 AS (SELECT doc_id, pos AS anchor FROM tokp WHERE term = '{_PHRASE_T[0]}'),
a1 AS (SELECT doc_id, pos - 1 AS anchor FROM tokp WHERE term = '{_PHRASE_T[1]}'),
ph AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
  FROM a0 JOIN a1 USING (doc_id, anchor) GROUP BY doc_id
)
"""

_PHRASE_MATCH = f"""
WITH {_DOCS},
{_PHRASE_ANCHORS}
SELECT ids.doc_id, ids.conv_id, ph.phrase_tf
FROM ph JOIN ids USING (doc_id)
ORDER BY ph.phrase_tf DESC, ids.doc_id ASC
"""

_PHRASE_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
{_PHRASE_ANCHORS},
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokp
  WHERE term IN {_PHRASE_T!r} GROUP BY term
),
sidf AS (
  SELECT sum(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5))) AS sum_idf
  FROM dfs CROSS JOIN stats s
)
SELECT ids.doc_id, ids.conv_id,
       round(
         si.sum_idf
         * (ph.phrase_tf * 2.2)
         / (ph.phrase_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)),
         6
       ) AS score
FROM ph
JOIN ids USING (doc_id)
CROSS JOIN stats s CROSS JOIN sidf si
ORDER BY si.sum_idf * (ph.phrase_tf * 2.2)
         / (ph.phrase_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)) DESC,
         ids.doc_id ASC
LIMIT 10
"""


# Sloppy phrase "table value"~2 — for a 2-term ordered-window slop the
# greedy chain reduces to EXISTS(next pos within 1+slop), i.e. one
# windowed position join with count(DISTINCT anchor).
# Caret boosts: per-term BM25 contribution scaled before the sum;
# (idf * tfnorm) * w matches the engine's multiplication order.
_TERM_BOOST_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN ('spark', 'window', 'merge')
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           (ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
            * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)))
           * CASE tf.term WHEN 'spark' THEN 2.0 WHEN 'merge' THEN 0.5 ELSE 1.0 END
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""


# edismax pf: disjunctive BM25 over the phrase's terms + 0.5x the
# Lucene phrase clause score where the exact phrase occurs.
_PF_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
{_PHRASE_ANCHORS},
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tokp WHERE term IN {_PHRASE_T!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokp
          WHERE term IN {_PHRASE_T!r} GROUP BY term),
base AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
sidf AS (
  SELECT sum(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5))) AS sum_idf
  FROM dfreq CROSS JOIN stats s
),
psc AS (
  SELECT ph.doc_id,
         si.sum_idf * (ph.phrase_tf * 2.2)
         / (ph.phrase_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)) AS p
  FROM ph JOIN ids USING (doc_id) CROSS JOIN stats s CROSS JOIN sidf si
),
fin AS (
  SELECT b.doc_id, b.conv_id, b.raw + 0.5 * coalesce(psc.p, 0) AS sc
  FROM base b LEFT JOIN psc USING (doc_id)
)
SELECT doc_id, conv_id, round(sc, 6) AS score
FROM fin ORDER BY sc DESC, doc_id ASC
LIMIT 10
"""


_PROX_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokp AS (
  SELECT doc_id, conv_id, dl, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM ids
),
p0 AS (SELECT doc_id, pos FROM tokp WHERE term = '{_PHRASE_T[0]}'),
p1 AS (SELECT doc_id, pos FROM tokp WHERE term = '{_PHRASE_T[1]}'),
prox AS (
  SELECT p0.doc_id, CAST(count(DISTINCT p0.pos) AS BIGINT) AS prox_tf
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id
       AND p1.pos > p0.pos AND p1.pos <= p0.pos + 1 + 2
  GROUP BY p0.doc_id
),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokp
  WHERE term IN {_PHRASE_T!r} GROUP BY term
),
sidf AS (
  SELECT sum(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5))) AS sum_idf
  FROM dfs CROSS JOIN stats s
)
SELECT ids.doc_id, ids.conv_id,
       round(
         si.sum_idf
         * (prox.prox_tf * 2.2)
         / (prox.prox_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)),
         6
       ) AS score
FROM prox
JOIN ids USING (doc_id)
CROSS JOIN stats s CROSS JOIN sidf si
ORDER BY si.sum_idf * (prox.prox_tf * 2.2)
         / (prox.prox_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)) DESC,
         ids.doc_id ASC
LIMIT 10
"""


# ReRank: BM25 top-40 window, rescored original + 2 * sloppy-phrase
# score ("table value"~2); window docs the rerank query misses keep
# their original score (LEFT JOIN + coalesce 0).
_RERANK_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
win AS (SELECT doc_id, conv_id, raw FROM scored
        ORDER BY raw DESC, doc_id ASC LIMIT 40),
tokp AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM ids
),
p0 AS (SELECT doc_id, pos FROM tokp WHERE term = '{_PHRASE_T[0]}'),
p1 AS (SELECT doc_id, pos FROM tokp WHERE term = '{_PHRASE_T[1]}'),
prox AS (
  SELECT p0.doc_id, CAST(count(DISTINCT p0.pos) AS BIGINT) AS prox_tf
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id
       AND p1.pos > p0.pos AND p1.pos <= p0.pos + 1 + 2
  GROUP BY p0.doc_id
),
pdfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokp
  WHERE term IN {_PHRASE_T!r} GROUP BY term
),
sidf AS (
  SELECT sum(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5))) AS sum_idf
  FROM pdfs CROSS JOIN stats s
),
combined AS (
  SELECT w.doc_id, w.conv_id,
         w.raw + 2.0 * coalesce(
           si.sum_idf * (prox.prox_tf * 2.2)
           / (prox.prox_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)),
           0.0
         ) AS c
  FROM win w
  LEFT JOIN prox ON prox.doc_id = w.doc_id
  JOIN ids ON ids.doc_id = w.doc_id
  CROSS JOIN stats s CROSS JOIN sidf si
)
SELECT doc_id, conv_id, round(c, 6) AS score
FROM combined
ORDER BY c DESC, doc_id ASC
LIMIT 10
"""


def _pii_redact_sql() -> str:
    """Chained-CTE twin of functions/redact.py::redact_pii over the
    same planted PII — each stage counts on, then rewrites, the
    previous stage's text, mirroring the engine's ordered chain."""
    from solr_ocr_processor_spark.functions.redact import PII_PATTERNS

    sql = """
WITH s0 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN 'contact qa.bot+1@corp.example.org ' || text
         WHEN doc_id % 4 = 1 THEN 'call 555-867-5309 ' || text
         WHEN doc_id % 4 = 2 THEN 'host 192.168.0.1 ' || text
         ELSE text END AS t0
  FROM documents)"""
    counts = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        prev = ", ".join(counts)
        sql += f""",
s{i + 1} AS (
  SELECT doc_id{", " + prev if prev else ""},
    CAST(len(regexp_extract_all(t{i}, '{pat}')) AS BIGINT) AS n_{name},
    regexp_replace(t{i}, '{pat}', '{repl}', 'g') AS t{i + 1}
  FROM s{i})"""
        counts.append(f"n_{name}")
    n = len(PII_PATTERNS)
    return sql + f"""
SELECT doc_id, t{n} AS redacted, {", ".join(counts)} FROM s{n}
"""


_PII_REDACT_SQL = _pii_redact_sql()


# --- pipeline-operator oracles --------------------------------------------

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# Solr /analysis/field twin: the same three stages over the same
# literal input; stop list and stem CASE are the ONE in-repo
# definitions (STOPWORDS_EN / S_STEM_SQL_CASE interpolated below).
_STEM_TOKEN_CASE = S_STEM_SQL_CASE.format(t="token")
_ANALYSIS_CHAIN = f"""
WITH raw AS (SELECT '{ANALYSIS_TEXT}' AS raw),
tok AS (
  SELECT CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
         unnest(toks) AS token
  FROM (SELECT regexp_extract_all(lower(raw), '[a-z0-9]+') AS toks
        FROM raw)
),
stopped AS (SELECT pos, token FROM tok WHERE token NOT IN {STOPWORDS_EN!r})
SELECT '1_tokenize' AS stage, pos, token FROM tok
UNION ALL
SELECT '2_stop' AS stage, pos, token FROM stopped
UNION ALL
SELECT '3_stem' AS stage, pos, {_STEM_TOKEN_CASE} AS token FROM stopped
ORDER BY stage, pos
"""

# per-source fertility: plain string (the BPE regex contains {1,3});
# words/pieces/bytes definitions shared with the text_token_bpe twin.
_TOKENIZER_FERTILITY = """
WITH t AS (
  SELECT source,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS w,
         CAST(len(list_filter(
           regexp_extract_all(lower(text),
             '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]{1,3}| ?[^a-z0-9\\s'']+|\\s+|'''''),
           p -> trim(p) != '')) AS BIGINT) AS p,
         CAST(coalesce(strlen(text), 0) AS BIGINT) AS b
  FROM documents
),
agg AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS n_words,
         CAST(sum(p) AS BIGINT) AS n_pieces,
         CAST(sum(b) AS BIGINT) AS n_bytes
  FROM t GROUP BY source
)
SELECT source, n_docs, n_words, n_pieces, n_bytes,
       CAST(CASE WHEN n_words > 0
                 THEN floor(n_pieces * 1000000 / n_words) ELSE 0 END
            AS BIGINT) AS fertility_scaled,
       CAST(CASE WHEN n_pieces > 0
                 THEN floor(n_bytes * 1000000 / n_pieces) ELSE 0 END
            AS BIGINT) AS bytes_per_piece_scaled
FROM agg
ORDER BY source
"""

# code-vs-prose router twin: identical regex counts (RE2 == Java on
# these classes), integer ratio + flag boundaries.
_CODE_PROFILE = r"""
WITH t AS (
  SELECT doc_id,
         coalesce(text, '') AS raw,
         lower(coalesce(text, '')) AS low
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(length(raw) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(low, '[{}()\[\];=<>]')) AS BIGINT)
           AS n_symbols,
         CAST(len(regexp_extract_all(low,
           '\b(def|return|import|class|function|var|const|void|lambda|struct)\b'))
           AS BIGINT) AS n_kw,
         CAST(len(regexp_extract_all(raw, '[a-z][A-Z]')) AS BIGINT) AS n_camel
  FROM t
),
r AS (
  SELECT *,
         CAST(CASE WHEN n_chars > 0
                   THEN floor(n_symbols * 1000000 / n_chars) ELSE 0 END
              AS BIGINT) AS symbol_ratio_scaled
  FROM c
)
SELECT doc_id, n_chars, n_symbols, n_kw, n_camel, symbol_ratio_scaled,
       CAST(symbol_ratio_scaled >= 20000 OR n_kw >= 3 AS INT) AS is_code
FROM r
"""

# PMI collocations twin: the ranking rational is exact BIGINT integer
# division on both engines (// == Spark div).
_COLLOCATIONS = """
WITH docs AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
              FROM documents),
tok AS (SELECT unnest(toks) AS term FROM docs),
uni AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
pos AS (SELECT generate_subscripts(toks, 1) AS p, toks FROM docs),
bi AS (SELECT toks[p] AS t1, toks[p+1] AS t2, CAST(count(*) AS BIGINT) AS c_ab
       FROM pos WHERE p + 1 <= len(toks)
       GROUP BY 1, 2 HAVING count(*) >= 5)
SELECT b.t1, b.t2, b.c_ab,
       (b.c_ab * n.n * n.n) // (u1.c * u2.c) AS pmi_scaled
FROM bi b
JOIN uni u1 ON b.t1 = u1.term
JOIN uni u2 ON b.t2 = u2.term
CROSS JOIN n
ORDER BY pmi_scaled DESC, b.t1 ASC, b.t2 ASC
LIMIT 20
"""

_JACCARD_PAIRS = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM docs),
sh AS (SELECT DISTINCT doc_id, toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
j AS (SELECT doc1, doc2, i::DOUBLE / (c1.c + c2.c - i) AS jac
      FROM inter
      JOIN card c1 ON doc1 = c1.doc_id
      JOIN card c2 ON doc2 = c2.doc_id)
SELECT doc1, doc2, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.3
"""

# Duplicate clusters: the SAME pair definition as _JACCARD_PAIRS
# (minhash_lsh_pairs is exact-verified against it), then components
# via a recursive reachability closure — min reachable doc_id is the
# representative, exactly the fixpoint the engine's min-label
# propagation converges to.
_DUP_CLUSTERS = f"""
WITH RECURSIVE
docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM docs),
sh AS (SELECT DISTINCT doc_id, toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
prs AS (SELECT doc1, doc2
        FROM inter
        JOIN card c1 ON doc1 = c1.doc_id
        JOIN card c2 ON doc2 = c2.doc_id
        WHERE i::DOUBLE / (c1.c + c2.c - i) >= 0.3),
edges AS (SELECT doc1 AS a, doc2 AS b FROM prs
          UNION ALL SELECT doc2, doc1 FROM prs),
walk(doc_id, n) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.n
),
labs AS (SELECT doc_id, min(n) AS rep_id FROM walk GROUP BY doc_id),
sz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
       FROM labs GROUP BY rep_id)
SELECT l.doc_id, l.rep_id, s.cluster_size,
       CAST(l.doc_id = l.rep_id AS INT) AS is_canonical
FROM labs l JOIN sz s USING (rep_id)
"""

# The full export composition: keep-one closure + quality + lang +
# split, every fragment identical to its standalone oracle twin.
_CORPUS_EXPORT = f"""
WITH RECURSIVE
sdocs AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM sdocs),
shn AS (SELECT DISTINCT doc_id, toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
        FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM shn GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
          FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
prs AS (SELECT doc1, doc2
        FROM inter
        JOIN card c1 ON doc1 = c1.doc_id
        JOIN card c2 ON doc2 = c2.doc_id
        WHERE i::DOUBLE / (c1.c + c2.c - i) >= 0.3),
edges AS (SELECT doc1 AS a, doc2 AS b FROM prs
          UNION ALL SELECT doc2, doc1 FROM prs),
walk(doc_id, n) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.n
),
reps AS (SELECT doc_id
         FROM (SELECT doc_id, min(n) AS rep FROM walk GROUP BY doc_id)
         WHERE doc_id = rep),
qm AS (
  SELECT doc_id,
         round(0.4 * alpha_ratio + 0.3 * least(stop_ratio * 4, 1.0)
               + 0.3 * least(mean_tok_len / 8, 1.0), 6) AS quality
  FROM (SELECT doc_id,
               round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                     / greatest(length(text), 1), 6) AS alpha_ratio,
               round(len(list_filter(toks, x -> x IN
                     ('the','a','and','of','to','in','is','it')))::DOUBLE
                     / greatest(len(toks), 1), 6) AS stop_ratio,
               round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
                     / greatest(len(toks), 1), 6) AS mean_tok_len
        FROM sdocs)),
lv AS (SELECT doc_id,
  len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS v_en,
  len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS v_fr,
  len(list_filter(toks, x -> x IN ('el','los','y','que','una'))) AS v_es,
  len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS v_de
  FROM sdocs),
lng AS (SELECT doc_id,
  CASE WHEN greatest(v_en, v_fr, v_es, v_de) = 0 THEN 'und'
       WHEN v_de = greatest(v_en, v_fr, v_es, v_de) THEN 'de'
       WHEN v_en = greatest(v_en, v_fr, v_es, v_de) THEN 'en'
       WHEN v_es = greatest(v_en, v_fr, v_es, v_de) THEN 'es'
       ELSE 'fr' END AS lang_pred
  FROM lv),
spl AS (SELECT doc_id,
               CASE WHEN u < 0.90 THEN 'train'
                    WHEN u < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       / 1152921504606846976.0 AS u
              FROM documents))
SELECT d.doc_id, q.quality, l.lang_pred, s.split
FROM documents d
JOIN reps USING (doc_id)
JOIN qm q USING (doc_id)
JOIN lng l USING (doc_id)
JOIN spl s USING (doc_id)
WHERE q.quality >= 0.5 AND l.lang_pred = 'en'
"""

_SIMHASH_CTE = f"""
sdocs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
stok AS (SELECT doc_id, unnest(toks) AS term FROM sdocs),
stf AS (SELECT doc_id, term, count(*) AS tf FROM stok GROUP BY 1, 2),
sht AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 15))::BIGINT AS th FROM stf),
sbits AS (SELECT doc_id, tf, th, unnest(range(60)) AS bit FROM sht),
svotes AS (SELECT doc_id, bit,
                  sum(CASE WHEN (th >> bit) & 1 = 1 THEN tf ELSE -tf END) AS v
           FROM sbits GROUP BY 1, 2),
simhashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM svotes GROUP BY doc_id)
"""

_COS_D = (
    "list_cosine_similarity(list_transform(a.embedding, x -> x::DOUBLE), "
    "list_transform(b.embedding, x -> x::DOUBLE))"
)

_MEDIA_NB = (
    "strlen(text) + CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 3 "
    "WHEN 2 THEN 4 ELSE 3 END"
)

_ALTO_M = ("<alto", ":alto", "<Description>", "<Layout>", "<Page")
_HOCR_M = (
    "ocr_document", "ocr_page", "ocr_carea", "ocrx_block", "ocr_chapter",
    "ocr_section", "ocr_subsection", "ocr_par", "ocr_line", "ocrx_line",
    "ocrx_word",
)


def _any_contains(col: str, needles: tuple) -> str:
    return "(" + " OR ".join(f"contains({col}, '{n}')" for n in needles) + ")"


_NOT_POS = ("spark", "window")
_NOT_NEG = "merge"

# Shared LSH bucket CTE builder (md5-derived sign planes; 64 planes
# split into bands of `bits` planes). Both ANN oracles use 8x8.
def _lsh_buckets_cte(bits: int) -> str:
    return f"""
WITH planes AS (
  SELECT pp.p, dd.d,
         (('0x' || substr(md5('13:' || pp.p || ':' || dd.d), 1, 15))::BIGINT)::DOUBLE
           / 576460752303423488.0 - 1.0 AS v
  FROM (SELECT unnest(range(64)) AS p) pp, (SELECT unnest(range(64)) AS d) dd
),
vecs AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings
),
dots AS (
  SELECT v.vec_id, pl.p, sum(v.x * pl.v) AS dot
  FROM vecs v JOIN planes pl ON v.d = pl.d
  GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id, CAST(p // {bits} AS INT) AS band,
         CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % {bits}) ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY 1, 2
)"""

_BOOL_NOT = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {_NOT_POS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{_NOT_NEG}'),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  WHERE tf.doc_id NOT IN (SELECT doc_id FROM neg)
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""

# Word-offset reconstruction for a `top5(doc_id, conv_id)` CTE: the
# per-word doc_start offsets under the single-space joiner, straight
# off `documents`. Shared by the term- and phrase-highlight oracles —
# ONE home for the offset/turn-width math.
_WORD_OFFSETS = """words AS (
  SELECT t.conv_id, str_split(d.text, ' ') AS w
  FROM top5 t
  JOIN documents d
    ON t.conv_id = 'c' || lpad(CAST(d.doc_id AS VARCHAR), 8, '0')
),
positions0 AS (
  SELECT conv_id, CAST(unnest(range(len(w))) AS INT) AS wpos, w
  FROM words
),
positions AS (
  SELECT conv_id, wpos, w[wpos + 1] AS word FROM positions0
),
offsets AS (
  SELECT conv_id, wpos, word,
         CAST(coalesce(sum(length(word) + 1) OVER (
             PARTITION BY conv_id ORDER BY wpos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS doc_start
  FROM positions
)"""

# Shared CTE chain for the highlight/snippet oracles: BM25 top-5 for
# the flagship query, then reconstruct per-word doc offsets and the
# word -> turn mapping (turn = TW-word chunk) straight off `documents`.
_HL_PREFIX = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
top5 AS (SELECT doc_id, conv_id FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 5),
{_WORD_OFFSETS},
turnmap AS (
  SELECT conv_id, wpos, word, doc_start,
         CAST(wpos // {TW} AS INT) AS turn_idx
  FROM offsets
),
turn_starts AS (
  SELECT conv_id, turn_idx, min(doc_start) AS turn_char_start
  FROM turnmap GROUP BY conv_id, turn_idx
)
"""


# Phrase highlights: top-5 phrase-ranked docs, every anchor becomes one
# char span (first term start .. last term end), clipped to each turn
# it overlaps — identical contract to operators/score.phrase_highlights.
_PHRASE_HL = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
{_PHRASE_ANCHORS},
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokp
  WHERE term IN {_PHRASE_T!r} GROUP BY term
),
sidf AS (
  SELECT sum(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5))) AS sum_idf
  FROM dfs CROSS JOIN stats s
),
top5 AS (
  SELECT ids.doc_id, ids.conv_id
  FROM ph JOIN ids USING (doc_id) CROSS JOIN stats s CROSS JOIN sidf si
  ORDER BY si.sum_idf * (ph.phrase_tf * 2.2)
           / (ph.phrase_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)) DESC,
           ids.doc_id ASC
  LIMIT 5
),
anchors AS (
  SELECT t.conv_id, a0.anchor
  FROM a0 JOIN a1 USING (doc_id, anchor) JOIN top5 t USING (doc_id)
),
{_WORD_OFFSETS},
spans AS (
  SELECT a.conv_id, o0.doc_start AS span_start,
         o1.doc_start + length(o1.word) AS span_end
  FROM anchors a
  JOIN offsets o0 ON o0.conv_id = a.conv_id AND o0.wpos = a.anchor - 1
  JOIN offsets o1 ON o1.conv_id = a.conv_id AND o1.wpos = a.anchor
),
tr AS (
  SELECT conv_id, CAST(wpos // {TW} AS INT) AS turn_idx,
         min(doc_start) AS tstart,
         max(doc_start + length(word)) AS tend
  FROM offsets GROUP BY 1, 2
)
"""

_PHRASE_HL_OFFSETS = _PHRASE_HL + """
SELECT s.conv_id, tr.turn_idx,
       CAST(greatest(s.span_start, tr.tstart) - tr.tstart AS INT) AS start_in_turn,
       CAST(least(s.span_end, tr.tend) - tr.tstart AS INT) AS end_in_turn
FROM spans s
JOIN tr ON s.conv_id = tr.conv_id
       AND s.span_start < tr.tend AND s.span_end > tr.tstart
"""

# Rendered phrase snippets: each clipped span wraps as ONE <em> region
# (word-aligned by construction: clip points are turn boundaries =
# word boundaries), matched turns only — same contract as
# operators/score.phrase_snippets.
_PHRASE_SNIPPET = _PHRASE_HL + f""",
marks AS (
  SELECT o.conv_id, tr.turn_idx, o.wpos, o.word,
         max(CASE WHEN s.conv_id IS NOT NULL
                   AND o.doc_start = greatest(s.span_start, tr.tstart)
             THEN 1 ELSE 0 END) AS is_start,
         max(CASE WHEN s.conv_id IS NOT NULL
                   AND o.doc_start + length(o.word) = least(s.span_end, tr.tend)
             THEN 1 ELSE 0 END) AS is_end
  FROM offsets o
  JOIN tr ON tr.conv_id = o.conv_id AND tr.turn_idx = CAST(o.wpos // {TW} AS INT)
  LEFT JOIN spans s ON s.conv_id = o.conv_id
       AND s.span_start < tr.tend AND s.span_end > tr.tstart
  GROUP BY o.conv_id, tr.turn_idx, o.wpos, o.word
),
mt AS (
  SELECT DISTINCT s.conv_id, tr.turn_idx
  FROM spans s
  JOIN tr ON s.conv_id = tr.conv_id
         AND s.span_start < tr.tend AND s.span_end > tr.tstart
)
SELECT m.conv_id, m.turn_idx,
       string_agg(
         CASE WHEN m.is_start = 1 THEN '<em>' || m.word ELSE m.word END ||
         CASE WHEN m.is_end = 1 THEN '</em>' ELSE '' END,
         ' ' ORDER BY m.wpos) AS snippet
FROM marks m JOIN mt USING (conv_id, turn_idx)
GROUP BY m.conv_id, m.turn_idx
"""

# Nested boolean: spark AND (window OR table) NOT merge.
# One pass over the leaf terms' token rows; per-doc presence flags
# evaluate the expression, the score sums BM25 over the POSITIVE
# leaves only (merge gates, never scores) — the same contract as
# operators/boolean.boolean_topk.
_BOOL_LEAVES = ("spark", "window", "table", "merge")
_BOOL_POS = ("spark", "window", "table")

_BOOL_NESTED = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {_BOOL_LEAVES!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
agg AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(CASE WHEN tf.term IN {_BOOL_POS!r} THEN
               ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
             ELSE 0.0 END) AS raw,
         max(CASE WHEN tf.term = 'spark' THEN 1 ELSE 0 END) AS has_spark,
         max(CASE WHEN tf.term = 'window' THEN 1 ELSE 0 END) AS has_window,
         max(CASE WHEN tf.term = 'table' THEN 1 ELSE 0 END) AS has_table,
         max(CASE WHEN tf.term = 'merge' THEN 1 ELSE 0 END) AS has_merge
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM agg
WHERE has_spark = 1 AND (has_window = 1 OR has_table = 1) AND has_merge = 0
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""

# Rewrite queries (operators/expand.py): expand against the dictionary
# with the deterministic (df DESC, term ASC) top-50 cap, then score the
# expansion set as a disjunctive BM25 — the oracle replays both halves.
def _expansion_bm25_sql(match_pred: str) -> str:
    return f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
exp AS (SELECT term FROM dict WHERE {match_pred}
        ORDER BY df DESC, term ASC LIMIT 50),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN (SELECT term FROM exp)
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""


_PREFIX_TOPK_SQL = _expansion_bm25_sql("term LIKE 's%'")
_FUZZY_TOPK_SQL = _expansion_bm25_sql(
    f"levenshtein(term, '{FUZZY_Q}') <= {FUZZY_EDITS}"
)

# Facet histogram: docs matching ANY flagship term, bucketed by token
# count (dl). max(dl) mirrors the Spark side's per-doc dedup aggregate
# (dl is constant per doc, so max is exact).
_FACET_SQL = f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS dl
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
)
SELECT CAST(floor(dl / 64.0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM m GROUP BY bucket ORDER BY bucket
"""

# More-Like-This: the seed doc's tf·idf-ranked term set (tie term ASC,
# cap MLT_TERMS) scored as a disjunctive BM25 with the seed excluded —
# both halves replayed, same idf spelling as the engine.
_MLT_SQL = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
src AS (
  SELECT term, CAST(count(*) AS INT) AS tf FROM tok
  WHERE doc_id = {MLT_DOC} GROUP BY term
),
mlt AS (
  SELECT s.term
  FROM src s JOIN dict d USING (term) CROSS JOIN stats st
  ORDER BY s.tf * ln(1 + (st.n_docs - d.df + 0.5) / (d.df + 0.5)) DESC,
           s.term ASC
  LIMIT {MLT_TERMS}
),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN (SELECT term FROM mlt)
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored WHERE doc_id <> {MLT_DOC}
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""

_SUGGEST_SQL = f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df FROM dict
WHERE term LIKE 's%'
ORDER BY df DESC, term ASC
LIMIT 10
"""

# Minimum-should-match: the scored CTE already aggregates one row per
# (doc, matched term); HAVING count(*) >= MM is the same gate the
# engine applies to its match-count column.
_MM_SQL = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
  HAVING count(*) >= {MM}
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored
ORDER BY raw DESC, doc_id ASC
LIMIT 10
"""

# Result grouping: per-dl-bucket rank (raw DESC, doc_id ASC), groups
# paged by their champion's score — same BM25 spelling as _BM25.
_GROUP_SQL = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id, tf.dl,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id, tf.dl
),
ranked AS (
  SELECT CAST(floor(dl / 64.0) AS BIGINT) AS "group", doc_id, conv_id, raw,
         CAST(row_number() OVER (PARTITION BY floor(dl / 64.0)
                                 ORDER BY raw DESC, doc_id ASC) AS INT) AS rn
  FROM scored
),
lim AS (SELECT * FROM ranked WHERE rn <= {GROUP_LIMIT}),
tg AS (
  SELECT "group" FROM lim WHERE rn = 1
  ORDER BY raw DESC, "group" ASC LIMIT {GROUP_K}
)
SELECT lim."group", doc_id, conv_id, round(raw, 6) AS score, rn
FROM lim JOIN tg USING ("group")
"""

# Recency boost: last_ts replays from the turnizer arithmetic (the
# date_facet derivation); NOW = max over ALL docs; only epoch
# DIFFERENCES enter the decay, so timezone conventions cancel.
_BOOSTED_SQL = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
nw AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         len(str_split(text, ' ')) AS n_words
  FROM documents
),
dated AS (
  SELECT ids.doc_id,
         CAST(epoch(TIMESTAMP '2026-01-01 00:00:00'
              + INTERVAL 1 MINUTE
                * CAST(ceil(n_words / {TW}.0) - 1 AS INT)) AS BIGINT) AS ep
  FROM ids JOIN nw USING (conv_id)
),
nowt AS (SELECT max(ep) AS now_ep FROM dated)
SELECT s.doc_id, s.conv_id, round(s.raw, 6) AS score,
       round(s.raw * ({BOOST_HALF_LIFE_DAYS} /
             ({BOOST_HALF_LIFE_DAYS} + (n.now_ep - d.ep) / 86400.0)), 6)
         AS boosted
FROM scored s JOIN dated d ON s.doc_id = d.doc_id CROSS JOIN nowt n
ORDER BY s.raw * ({BOOST_HALF_LIFE_DAYS} /
         ({BOOST_HALF_LIFE_DAYS} + (n.now_ep - d.ep) / 86400.0)) DESC,
         s.doc_id ASC
LIMIT 10
"""

_PIPELINE_ORACLES = {
    "boolean_not_topk": _BOOL_NOT,
    "boolean_nested_topk": _BOOL_NESTED,
    "prefix_topk": _PREFIX_TOPK_SQL,
    "fuzzy_topk": _FUZZY_TOPK_SQL,
    "wildcard_topk": _expansion_bm25_sql("term LIKE 's_a%'"),
    "regexp_topk": _expansion_bm25_sql("regexp_matches(term, '^(?:sp[a-z]*k)$')"),
    "mm_topk": _MM_SQL,
    "group_topk": _GROUP_SQL,
    "boosted_topk": _BOOSTED_SQL,
    "mlt_topk": _MLT_SQL,
    "suggest_terms": _SUGGEST_SQL,
    "facet_counts": _FACET_SQL,
    # date-range facet: last_ts = base + (last turn_idx) minutes; the
    # last turn index is ceil(words/TW) - 1 under the TW-word turnizer
    # (sources/transcripts.py) — replayed here without the turn table.
    "date_facet_counts": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN {FLAGSHIP_TERMS!r}),
nw AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         len(str_split(text, ' ')) AS n_words
  FROM documents
),
dated AS (
  SELECT ids.doc_id,
         CAST(epoch(TIMESTAMP '2026-01-01 00:00:00'
              + INTERVAL 1 MINUTE
                * CAST(ceil(n_words / {TW}.0) - 1 AS INT)) AS BIGINT) AS ep
  FROM ids JOIN nw USING (conv_id) JOIN m USING (doc_id)
)
SELECT CAST(ep // 600 * 600 AS BIGINT) AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_docs
FROM dated GROUP BY bucket_start ORDER BY bucket_start
""",
    # pivot facet: dl rides the match aggregation; last_ts replays
    # from the turnizer arithmetic like date_facet_counts
    "dsir_importance": """
WITH t AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, source, toks[i] AS f
  FROM t, UNNEST(generate_series(1, len(toks))) u(i)
  UNION ALL
  SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS f
  FROM t, UNNEST(CASE WHEN len(toks) >= 2
                      THEN generate_series(1, len(toks) - 1)
                      ELSE [] END) u(i)
),
fb AS (SELECT doc_id, source,
              ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket
       FROM f),
rm AS (SELECT bucket, count(*) AS rc FROM fb GROUP BY bucket),
tm AS (SELECT bucket, count(*) AS tc FROM fb WHERE source = 'src1'
       GROUP BY bucket),
tot AS (SELECT (SELECT count(*) FROM fb) AS tr,
               (SELECT count(*) FROM fb WHERE source = 'src1') AS tt),
lr AS (SELECT rm.bucket,
              ln((coalesce(tm.tc, 0) + 1.0)
                 / (CAST(tot.tt AS DOUBLE) + 4096.0))
            - ln((rm.rc + 1.0) / (CAST(tot.tr AS DOUBLE) + 4096.0)) AS lr
       FROM rm LEFT JOIN tm USING (bucket), tot),
s AS (SELECT fb.doc_id, round(sum(lr.lr), 6) AS dsir_logratio,
             count(*) AS n_feats
      FROM fb JOIN lr USING (bucket) GROUP BY fb.doc_id)
SELECT d.doc_id,
       coalesce(s.dsir_logratio, 0.0) AS dsir_logratio,
       CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats
FROM documents d LEFT JOIN s USING (doc_id)
""",
    "dsir_resample": """
WITH t AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, source, toks[i] AS f
  FROM t, UNNEST(generate_series(1, len(toks))) u(i)
  UNION ALL
  SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS f
  FROM t, UNNEST(CASE WHEN len(toks) >= 2
                      THEN generate_series(1, len(toks) - 1)
                      ELSE [] END) u(i)
),
fb AS (SELECT doc_id, source,
              ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket
       FROM f),
rm AS (SELECT bucket, count(*) AS rc FROM fb GROUP BY bucket),
tm AS (SELECT bucket, count(*) AS tc FROM fb WHERE source = 'src1'
       GROUP BY bucket),
tot AS (SELECT (SELECT count(*) FROM fb) AS tr,
               (SELECT count(*) FROM fb WHERE source = 'src1') AS tt),
lr AS (SELECT rm.bucket,
              ln((coalesce(tm.tc, 0) + 1.0)
                 / (CAST(tot.tt AS DOUBLE) + 4096.0))
            - ln((rm.rc + 1.0) / (CAST(tot.tr AS DOUBLE) + 4096.0)) AS lr
       FROM rm LEFT JOIN tm USING (bucket), tot),
s AS (SELECT fb.doc_id, round(sum(lr.lr), 6) AS lr
      FROM fb JOIN lr USING (bucket) GROUP BY fb.doc_id),
s2 AS (SELECT d.doc_id, coalesce(s.lr, 0.0) AS lr
       FROM documents d LEFT JOIN s USING (doc_id)),
k AS (
  SELECT doc_id,
         round(lr + -ln(-ln(
           ((('0x' || substr(md5('41:' || doc_id), 1, 15))::BIGINT) + 1.0)
             / (1152921504606846976.0 + 1.0)
         )), 6) AS key
  FROM s2
)
SELECT doc_id, key FROM k ORDER BY key DESC, doc_id ASC LIMIT 50
""",
    "lm_ppl_buckets": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
cf AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cf),
lp AS (
  SELECT term, CAST(round(ln(c / tot.total) * 1000000) AS BIGINT) AS lps
  FROM cf CROSS JOIN tot
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(-sum(lps) AS BIGINT) AS nll_scaled
  FROM tok JOIN lp USING (term)
  GROUP BY doc_id
),
sc AS (
  SELECT d.doc_id,
         coalesce(agg.n_tokens, 0) AS n_tokens,
         CASE WHEN coalesce(agg.n_tokens, 0) > 0
              THEN CAST((agg.nll_scaled * 1000) // agg.n_tokens AS BIGINT)
         END AS avg_key
  FROM documents d LEFT JOIN agg USING (doc_id)
),
keys AS (SELECT avg_key, count(*) AS c FROM sc
         WHERE avg_key IS NOT NULL GROUP BY avg_key),
cum AS (SELECT avg_key, sum(c) OVER (ORDER BY avg_key) AS cum,
               sum(c) OVER () AS n
        FROM keys),
cuts AS (SELECT min(CASE WHEN cum * 3 >= n THEN avg_key END) AS t1,
                min(CASE WHEN cum * 3 >= 2 * n THEN avg_key END) AS t2
         FROM cum)
SELECT sc.doc_id, sc.n_tokens,
       CAST(coalesce(sc.avg_key, 0) AS BIGINT) AS avg_key,
       CASE WHEN sc.avg_key IS NULL THEN 'empty'
            WHEN sc.avg_key <= cuts.t1 THEN 'head'
            WHEN sc.avg_key <= cuts.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc CROSS JOIN cuts
""",
    "group_facet_counts": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS dl
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
),
nw AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         len(str_split(text, ' ')) AS n_words
  FROM documents
),
dated AS (
  SELECT ids.doc_id,
         CAST(epoch(TIMESTAMP '2026-01-01 00:00:00'
              + INTERVAL 1 MINUTE
                * CAST(ceil(n_words / {TW}.0) - 1 AS INT)) AS BIGINT) AS ep
  FROM ids JOIN nw USING (conv_id)
)
SELECT CAST(ep // 600 * 600 AS BIGINT) AS ts_bucket,
       CAST(count(DISTINCT CAST(floor(m.dl / 64.0) AS BIGINT)) AS BIGINT)
         AS n_groups
FROM m JOIN dated USING (doc_id)
GROUP BY ts_bucket ORDER BY ts_bucket
""",
    "luke_report": """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tfs AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
ts AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tfs GROUP BY term),
dl AS (SELECT doc_id, len(toks) AS dl FROM docs)
SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
       CAST((SELECT count(*) FROM ts) AS BIGINT) AS n_terms,
       CAST((SELECT coalesce(sum(df), 0) FROM ts) AS BIGINT) AS n_postings,
       CAST((SELECT coalesce(sum(cf), 0) FROM ts) AS BIGINT) AS total_tokens,
       round(CAST((SELECT coalesce(sum(cf), 0) FROM ts) AS DOUBLE)
             / (SELECT count(*) FROM documents), 6) AS avgdl,
       CAST((SELECT coalesce(max(df), 0) FROM ts) AS BIGINT) AS max_df,
       CAST((SELECT coalesce(max(dl), 0) FROM dl) AS BIGINT) AS max_dl,
       CAST((SELECT coalesce(min(dl), 0) FROM dl) AS BIGINT) AS min_dl
""",
    "pivot_facet_counts": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS dl
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
),
nw AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         len(str_split(text, ' ')) AS n_words
  FROM documents
),
dated AS (
  SELECT ids.doc_id,
         CAST(epoch(TIMESTAMP '2026-01-01 00:00:00'
              + INTERVAL 1 MINUTE
                * CAST(ceil(n_words / {TW}.0) - 1 AS INT)) AS BIGINT) AS ep
  FROM ids JOIN nw USING (conv_id)
)
SELECT CAST(floor(m.dl / 64.0) AS BIGINT) AS dl_bucket,
       CAST(ep // 600 * 600 AS BIGINT) AS ts_bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM m JOIN dated USING (doc_id)
GROUP BY dl_bucket, ts_bucket ORDER BY dl_bucket, ts_bucket
""",
    # per-bucket stats: n_chars == length(text) (the ' '-join
    # round-trip invariant), bucket from the match aggregation's dl
    "group_stats": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS dl
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
),
nc AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(length(text) AS BIGINT) AS v
  FROM documents
),
j AS (
  SELECT CAST(floor(m.dl / 64.0) AS BIGINT) AS bucket, nc.v
  FROM m JOIN ids USING (doc_id) JOIN nc USING (conv_id)
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(v) AS BIGINT) AS min,
       CAST(max(v) AS BIGINT) AS max,
       CAST(sum(v) AS BIGINT) AS sum,
       round(avg(v), 6) AS mean,
       round(stddev_samp(v), 6) AS stddev
FROM j GROUP BY bucket ORDER BY bucket
""",
    # split/sample: the same md5-first-15-hex-digits unit uniform the
    # engine computes in codegen (operators/split.py) — 60 bits, exact
    # in BIGINT and double on both engines
    "doc_split": """
SELECT doc_id,
       CASE WHEN u < 0.90 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               / 1152921504606846976.0 AS u
      FROM documents)
""",
    "doc_sample": """
SELECT doc_id FROM (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           / 1152921504606846976.0 AS u
  FROM documents)
WHERE u < 0.10
""",
    "mixture_sample": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
v AS (SELECT doc_id,
  len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS v_en,
  len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS v_fr,
  len(list_filter(toks, x -> x IN ('el','los','y','que','una'))) AS v_es,
  len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS v_de
 FROM t),
d AS (SELECT doc_id,
  CASE WHEN greatest(v_en, v_fr, v_es, v_de) = 0 THEN 'und'
       WHEN v_de = greatest(v_en, v_fr, v_es, v_de) THEN 'de'
       WHEN v_en = greatest(v_en, v_fr, v_es, v_de) THEN 'en'
       WHEN v_es = greatest(v_en, v_fr, v_es, v_de) THEN 'es'
       ELSE 'fr' END AS dom
 FROM v),
r AS (SELECT doc_id, dom,
        CASE dom WHEN 'en' THEN 0.5 WHEN 'und' THEN 0.9
                 WHEN 'fr' THEN 1.0 ELSE 0.0 END AS rate,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          / 1152921504606846976.0 AS u
      FROM d)
SELECT doc_id, dom FROM r WHERE rate >= 1.0 OR u < rate
""",
    "pack_sequences": f"""
WITH t AS (SELECT doc_id,
                  CAST(len({_TOKS}) AS BIGINT) + 1 AS n
           FROM documents),
b AS (SELECT doc_id, n,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
             AS INT) AS bucket
      FROM t),
s AS (SELECT doc_id, n, bucket,
        CAST(coalesce(sum(n) OVER (PARTITION BY bucket ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      FROM b),
e AS (SELECT doc_id, bucket, n, st,
        unnest(generate_series(st // 128, (st + n - 1) // 128)) AS seq
      FROM s)
SELECT doc_id,
       CAST(bucket AS BIGINT) * 1099511627776 + seq AS pack_id,
       CAST(greatest(seq * 128 - st, 0) AS BIGINT) AS tok_start,
       CAST(least((seq + 1) * 128 - st, n - 1) AS BIGINT) AS tok_end
FROM e
WHERE least((seq + 1) * 128 - st, n - 1) > greatest(seq * 128 - st, 0)
""",
    "pii_redact": _PII_REDACT_SQL,
    "stats_cardinality": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS v
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT v) AS BIGINT) AS cardinality
FROM m
""",
    "stats_dl": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS v
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(min(v) AS BIGINT) AS min,
       CAST(max(v) AS BIGINT) AS max,
       CAST(sum(v) AS BIGINT) AS sum,
       round(avg(v), 6) AS mean,
       round(stddev_samp(v), 6) AS stddev
FROM m
""",
    # collapse: per-dl-bucket champion by (raw DESC, doc_id ASC), then
    # the global top-10 page over champions — same BM25 spelling as _BM25.
    "collapse_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id, tf.dl,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id, tf.dl
),
champ AS (
  SELECT CAST(floor(dl / 64.0) AS BIGINT) AS "group", doc_id, conv_id, raw,
         row_number() OVER (PARTITION BY floor(dl / 64.0)
                            ORDER BY raw DESC, doc_id ASC) AS rn
  FROM scored
)
SELECT "group", doc_id, conv_id, round(raw, 6) AS score
FROM champ WHERE rn = 1
ORDER BY raw DESC, doc_id ASC
LIMIT 10
""",
    "sort_topk": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
m AS (SELECT DISTINCT doc_id FROM tok WHERE term IN {FLAGSHIP_TERMS!r})
SELECT ids.doc_id, ids.conv_id, CAST(ids.dl AS BIGINT) AS dl
FROM ids JOIN m USING (doc_id)
ORDER BY ids.dl DESC, ids.doc_id ASC
LIMIT 10
""",
    # page two of _BM25: same ranking, rows 10..19
    "paged_topk": _BM25.replace("LIMIT 10", "LIMIT 10 OFFSET 10"),
    # spellcheck: same dictionary, same total order (dist, df DESC, term)
    "spellcheck": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term)
SELECT term,
       CAST(levenshtein(term, 'windoe') AS INT) AS dist,
       CAST(df AS BIGINT) AS df
FROM dict
WHERE abs(length(term) - 6) <= 2 AND levenshtein(term, 'windoe') <= 2
ORDER BY dist ASC, df DESC, term ASC
LIMIT 5
""",
    # fq: dfreq stays GLOBAL (computed before the range filter) — the
    # filter narrows competition, never scoring stats (Solr fq rule)
    "filtered_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  WHERE tf.dl BETWEEN 40 AND 120
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored
ORDER BY raw DESC, doc_id ASC
LIMIT 10
""",
    # {!frange}: same global-stats BM25, match set gated on the computed
    # dl/avgdl ratio (both engines evaluate the identical double division)
    "frange_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  WHERE tf.dl / s.avgdl BETWEEN 0.9 AND 1.1
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored
ORDER BY raw DESC, doc_id ASC
LIMIT 10
""",
    # tumbling windows are epoch-aligned on both engines -> integer math
    "events_windowed": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value,
       max(value) AS max_value
FROM events
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
    # Sliding windows: an event at ts belongs to every 30-min-aligned
    # start in (ts - 1h, ts] — exactly the two buckets
    # {trunc30(ts), trunc30(ts) - 30min} for the 1h/30min pair.
    "events_sliding": """
WITH s AS (
  -- time_bucket truncates on the timestamp domain; CAST(epoch(ts) AS
  -- BIGINT) would ROUND sub-second fractions across the slide edge
  SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', ts)) AS BIGINT)
           - j.j * 1800 AS window_start,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS j) j
)
SELECT window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value,
       max(value) AS max_value
FROM s GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
    # Session windows replayed as gaps-and-islands: Spark extends a
    # session while the next event starts AT OR BEFORE current-end
    # (= prev + gap), so the island breaks only when diff > gap
    # (verified by tests/test_round3_surfaces.py boundary test).
    "events_sessions": """
WITH e AS (
  SELECT user_id, ts, CAST(round(value * 1000000) AS BIGINT) AS v FROM events
),
g AS (
  SELECT user_id, ts, v,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 8 HOUR THEN 1 ELSE 0 END AS brk
  FROM e
),
isl AS (
  SELECT user_id, ts, v,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v) AS BIGINT) AS value_sum_scaled
FROM isl
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    "terms_enum": """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tfs AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf
  FROM tfs GROUP BY term
)
SELECT term, df, cf FROM stats
WHERE df >= 2 AND regexp_matches(term, '^(?:s[a-z]*)$')
ORDER BY df DESC, term ASC LIMIT 20
""",
    "term_vectors": """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tfs AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfs GROUP BY term),
v AS (SELECT term, CAST(tf AS BIGINT) AS tf FROM tfs WHERE doc_id = 3)
SELECT v.term, v.tf, dfreq.df,
       CAST(round(v.tf * ln(n.n_docs / dfreq.df) * 1000000) AS BIGINT)
         AS tf_idf_scaled
FROM v JOIN dfreq USING (term) CROSS JOIN n
ORDER BY term
""",
    "join_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
keys AS (
  SELECT DISTINCT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id
  FROM documents WHERE source = 'src7'
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored JOIN keys USING (conv_id)
ORDER BY raw DESC, doc_id ASC
LIMIT 10
""",
    # RRF: both legs rank over their UNROUNDED scores with id
    # tie-breaks — the same total order every top-k oracle in this file
    # already relies on for which rows survive the cut.
    "hybrid_rrf_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
lexall AS (
  SELECT conv_id,
         CAST(row_number() OVER (ORDER BY raw DESC, doc_id ASC)
              AS BIGINT) AS lex_rank
  FROM scored
),
lex AS (SELECT * FROM lexall WHERE lex_rank <= 50),
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
sim AS (SELECT vec_id AS id,
               list_cosine_similarity(list_transform(embedding, x -> x::DOUBLE),
                                      q.qv) AS c
        FROM embeddings CROSS JOIN q),
vecall AS (
  SELECT 'c' || lpad(CAST(id AS VARCHAR), 8, '0') AS conv_id,
         CAST(row_number() OVER (ORDER BY c DESC, id ASC) AS BIGINT)
           AS vec_rank
  FROM sim
),
vec AS (SELECT * FROM vecall WHERE vec_rank <= 50),
fused AS (
  SELECT coalesce(lex.conv_id, vec.conv_id) AS conv_id, lex_rank, vec_rank,
         round(coalesce(1.0 / (60 + lex_rank), 0)
               + coalesce(1.0 / (60 + vec_rank), 0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.conv_id = vec.conv_id
)
SELECT ids.doc_id, fused.conv_id, rrf_score, lex_rank, vec_rank
FROM fused LEFT JOIN ids ON fused.conv_id = ids.conv_id
ORDER BY rrf_score DESC, fused.conv_id ASC
LIMIT 10
""",
    "lm_doc_nll": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
cf AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cf),
lp AS (
  SELECT term, CAST(round(ln(c / tot.total) * 1000000) AS BIGINT) AS lps
  FROM cf CROSS JOIN tot
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(-sum(lps) AS BIGINT) AS nll_scaled,
         round(-sum(lps) / count(*) / 1000000.0, 4) AS avg_nll
  FROM tok JOIN lp USING (term)
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.n_tokens, 0) AS n_tokens,
       coalesce(agg.nll_scaled, 0) AS nll_scaled,
       agg.avg_nll
FROM documents d LEFT JOIN agg USING (doc_id)
""",
    "function_fields": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
page AS (
  SELECT doc_id, conv_id, round(raw, 6) AS score
  FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
)
SELECT p.doc_id, p.conv_id, p.score,
       CAST(coalesce(t.tf, 0) AS BIGINT) AS tf_term,
       CAST(coalesce((SELECT df FROM dfreq
                      WHERE term = {FLAGSHIP_TERMS[0]!r}), 0) AS BIGINT)
         AS df_term,
       i.dl AS dl
FROM page p
JOIN ids i USING (doc_id)
LEFT JOIN (SELECT doc_id, tf FROM tf
           WHERE term = {FLAGSHIP_TERMS[0]!r}) t USING (doc_id)
ORDER BY p.score DESC, p.doc_id ASC
""",
    "bm25_batch_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qs(query_id, term) AS (VALUES
  ('q1', 'spark'), ('q1', 'window'), ('q1', 'merge'),
  ('q2', 'spark'), ('q3', 'window'), ('q3', 'merge')),
scored AS (
  SELECT qs.query_id, tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) JOIN qs USING (term) CROSS JOIN stats s
  GROUP BY qs.query_id, tf.doc_id, tf.conv_id
),
r AS (
  SELECT query_id, doc_id, conv_id, raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, conv_id,
       round(raw, 6) AS score
FROM r WHERE rank <= 5 ORDER BY query_id, rank
""",
    "group_sorted_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id, tf.dl,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id, tf.dl
),
ranked AS (
  SELECT CAST(floor(dl / 64.0) AS BIGINT) AS "group", doc_id, conv_id, raw,
         CAST(row_number() OVER (PARTITION BY floor(dl / 64.0)
                                 ORDER BY dl ASC, doc_id ASC) AS INT) AS rn
  FROM scored
),
tg AS (
  SELECT CAST(floor(dl / 64.0) AS BIGINT) AS "group", max(raw) AS best
  FROM scored GROUP BY 1
  ORDER BY best DESC, "group" ASC LIMIT {GROUP_K}
)
SELECT r."group", doc_id, conv_id, round(raw, 6) AS score, rn
FROM ranked r JOIN tg USING ("group") WHERE rn <= {GROUP_LIMIT}
""",
    "collapse_expand": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id, tf.dl,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id, tf.dl
),
ranked AS (
  SELECT CAST(floor(dl / 64.0) AS BIGINT) AS "group", doc_id, conv_id, raw,
         row_number() OVER (PARTITION BY floor(dl / 64.0)
                            ORDER BY raw DESC, doc_id ASC) AS rn
  FROM scored
),
page AS (
  SELECT "group", doc_id, conv_id, raw FROM ranked WHERE rn = 1
  ORDER BY raw DESC, doc_id ASC LIMIT 5
)
SELECT "group", doc_id, conv_id, round(raw, 6) AS score,
       FALSE AS expanded
FROM page
UNION ALL
SELECT r."group", r.doc_id, r.conv_id, round(r.raw, 6) AS score,
       TRUE AS expanded
FROM ranked r JOIN (SELECT DISTINCT "group" FROM page) pg USING ("group")
WHERE r.rn > 1 AND r.rn <= 3
""",
    "group_ngroups": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS dl
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
)
SELECT CAST(count(DISTINCT floor(dl / 64.0)) AS BIGINT) AS ngroups FROM m
""",
    "tool_facet_missing": f"""
WITH {_CTE}
SELECT tool AS value, CAST(count(*) AS BIGINT) AS n
FROM transcripts GROUP BY tool ORDER BY n DESC, value ASC
""",
    "bm25f_topk": f"""
WITH {_CTE},
tk AS (
  SELECT conv_id, role,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM transcripts WHERE role IN ('assistant', 'user')
),
dlf AS (SELECT conv_id, role, count(*) AS dl_f FROM tk GROUP BY conv_id, role),
av AS (SELECT role, avg(dl_f) AS avgdl_f FROM dlf GROUP BY role),
nd AS (SELECT count(DISTINCT conv_id) AS n_docs FROM transcripts),
tf AS (SELECT conv_id, role, term, count(*) AS tf FROM tk
       WHERE term IN {FLAGSHIP_TERMS!r} GROUP BY conv_id, role, term),
dft AS (SELECT term, count(DISTINCT conv_id) AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln(1 + (nd.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM dft CROSS JOIN nd),
co AS (
  SELECT tf.conv_id, tf.term,
         (CASE tf.role WHEN 'assistant' THEN 2.0 ELSE 1.0 END) * tf.tf
           / (0.25 + 0.75 * dlf.dl_f / av.avgdl_f) AS c
  FROM tf JOIN dlf USING (conv_id, role) JOIN av USING (role)
),
wtf AS (SELECT conv_id, term, sum(c) AS wtf FROM co GROUP BY conv_id, term),
sc AS (
  SELECT conv_id,
         round(sum(idf.idf * wtf.wtf * 2.2 / (wtf.wtf + 1.2)), 6) AS score
  FROM wtf JOIN idf USING (term) GROUP BY conv_id
)
SELECT conv_id, score FROM sc ORDER BY score DESC, conv_id ASC LIMIT 10
""",
    "lm_bigram_nll": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term,
               generate_subscripts(toks, 1) AS pos
        FROM t),
cf AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cf),
uni AS (
  SELECT term, c, CAST(round(ln(c / tot.total) * 1000000) AS BIGINT) AS lps
  FROM cf CROSS JOIN tot
),
ev AS (
  SELECT doc_id, term AS w2, pos,
         lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
  FROM tok
),
bgc AS (SELECT w1, w2, count(*) AS c12 FROM ev
        WHERE w1 IS NOT NULL GROUP BY w1, w2),
bglp AS (
  SELECT bgc.w1, bgc.w2,
         CAST(round(ln(bgc.c12 / u.c) * 1000000) AS BIGINT) AS lps
  FROM bgc JOIN uni u ON u.term = bgc.w1
),
sc AS (
  SELECT e.doc_id,
         CASE WHEN e.w1 IS NULL THEN u2.lps
              ELSE coalesce(bl.lps,
                            CAST(round(ln(0.4) * 1000000) AS BIGINT) + u2.lps)
         END AS lps
  FROM ev e
  JOIN uni u2 ON u2.term = e.w2
  LEFT JOIN bglp bl ON bl.w1 = e.w1 AND bl.w2 = e.w2
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(-sum(lps) AS BIGINT) AS nll_scaled
  FROM sc GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(agg.n_tokens, 0) AS n_tokens,
       coalesce(agg.nll_scaled, 0) AS nll_scaled,
       CASE WHEN agg.n_tokens > 0
            THEN round(agg.nll_scaled / agg.n_tokens / 1000000.0, 4)
       END AS avg_nll
FROM documents d LEFT JOIN agg USING (doc_id)
""",
    "stats_percentiles": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
m AS (
  SELECT doc_id, max(dl) AS v
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(v, 0.25), 6) AS p25,
       round(quantile_cont(v, 0.50), 6) AS p50,
       round(quantile_cont(v, 0.90), 6) AS p90,
       round(quantile_cont(v, 0.99), 6) AS p99
FROM m
""",
    # Bloom decontamination: the twin rebuilds the filter's set-bit set
    # relationally (same md5 positions as pipeline._bloom_positions),
    # so a shingle is bloom-positive iff all 4 positions are set bits —
    # bit-for-bit the Spark bitmap probe, false positives included.
    "bloom_decontaminate": """
WITH spl AS (SELECT doc_id,
                    CASE WHEN u < 0.90 THEN 'train'
                         WHEN u < 0.95 THEN 'val'
                         ELSE 'test' END AS split
             FROM (SELECT doc_id,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            / 1152921504606846976.0 AS u
                   FROM documents)),
toked AS (SELECT d.doc_id, s.split, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM documents d JOIN spl s USING (doc_id)),
posd AS (SELECT doc_id, split, generate_subscripts(toks, 1) AS p, toks FROM toked),
shd AS (SELECT DISTINCT doc_id, split,
               toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
        FROM posd WHERE p + 2 <= len(toks)),
ebits AS (SELECT DISTINCT
                 ('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || shingle), 1, 15))::BIGINT
                   % 65536 AS pos
          FROM (SELECT DISTINCT shingle FROM shd WHERE split = 'test'),
               UNNEST(generate_series(0, 3)) AS t(i)),
pp AS (SELECT doc_id, shingle,
              ('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || shingle), 1, 15))::BIGINT
                % 65536 AS pos
       FROM shd, UNNEST(generate_series(0, 3)) AS t(i)
       WHERE split = 'train'),
sh_ok AS (SELECT doc_id, shingle, count(*) = count(b.pos) AS ok
          FROM pp LEFT JOIN ebits b ON pp.pos = b.pos
          GROUP BY doc_id, shingle),
h2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
       FROM sh_ok WHERE ok GROUP BY doc_id)
SELECT t.doc_id, coalesce(h2.n_bloom_hits, 0) AS n_bloom_hits,
       CAST(coalesce(h2.n_bloom_hits, 0) > 0 AS INT) AS flagged
FROM (SELECT doc_id FROM spl WHERE split = 'train') t
LEFT JOIN h2 USING (doc_id)
""",
    "dup_span_trim": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, i, md5(array_to_string(toks[i:i+7], ' ')) AS whash
  FROM t, UNNEST(CASE WHEN len(toks) >= 8
                      THEN generate_series(1, len(toks) - 7)
                      ELSE [] END) AS u(i)
),
nd AS (SELECT whash, count(DISTINCT doc_id) AS n_docs FROM w GROUP BY whash),
dup AS (SELECT DISTINCT w.doc_id, w.i + g.o AS pos
        FROM w JOIN nd USING (whash), UNNEST(generate_series(0, 7)) AS g(o)
        WHERE nd.n_docs >= 2),
tok AS (SELECT doc_id, u.pos AS pos, toks[u.pos] AS tok
        FROM t, UNNEST(generate_series(1, len(toks))) AS u(pos)),
kept AS (SELECT tok.doc_id,
                string_agg(tok.tok, ' ' ORDER BY tok.pos) AS kept_text,
                count(*) AS n_kept
         FROM tok LEFT JOIN dup ON tok.doc_id = dup.doc_id AND tok.pos = dup.pos
         WHERE dup.pos IS NULL GROUP BY tok.doc_id),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(tot.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(tot.n_tokens, 0) - coalesce(kept.n_kept, 0) AS BIGINT)
         AS n_removed,
       coalesce(kept.kept_text, '') AS kept_text
FROM documents d
LEFT JOIN tot USING (doc_id)
LEFT JOIN kept ON d.doc_id = kept.doc_id
""",
    "dup_span_profile": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+7], ' ')) AS whash
  FROM t, UNNEST(CASE WHEN len(toks) >= 8
                      THEN generate_series(1, len(toks) - 7)
                      ELSE [] END) AS u(i)
),
dw AS (SELECT DISTINCT doc_id, whash FROM w),
c AS (SELECT whash, count(*) AS n FROM dw GROUP BY whash),
per AS (
  SELECT dw.doc_id,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN c.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM dw JOIN c USING (whash)
  GROUP BY dw.doc_id
)
SELECT d.doc_id,
       coalesce(per.n_windows, 0) AS n_windows,
       coalesce(per.n_dup_windows, 0) AS n_dup_windows,
       CASE WHEN per.n_windows > 0
            THEN round(per.n_dup_windows / CAST(per.n_windows AS DOUBLE), 6)
       END AS dup_frac
FROM documents d LEFT JOIN per USING (doc_id)
""",
    "multimodal_resize": f"""
SELECT doc_id AS media_id,
       CAST({_MEDIA_NB} AS BIGINT) AS in_bytes,
       CAST(ceil(({_MEDIA_NB}) / 4.0) AS BIGINT) AS out_bytes
FROM documents
""",
    "ocr_sniff_format": f"""
WITH p AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN '<alto xmlns> ' || text
           WHEN 1 THEN '<div class="ocr_page"> ' || text
           WHEN 2 THEN '<ocr> ' || text
           ELSE text END AS payload
  FROM documents
),
c AS (SELECT doc_id, substr(payload, 1, 1200) AS chunk FROM p)
SELECT doc_id,
       CASE WHEN {_any_contains('chunk', _ALTO_M)} THEN 'alto'
            WHEN {_any_contains('chunk', _HOCR_M)} THEN 'hocr'
            WHEN contains(chunk, '<ocr>') THEN 'minocr'
            ELSE 'unknown' END AS fmt
FROM c
""",
    "ocr_unit_px": """
SELECT doc_id,
       CAST((n_chars * 300) // 1200 AS BIGINT) AS inch_px,
       CAST(floor(n_chars * 3.7795275591) AS BIGINT) AS mm_px
FROM documents
""",
    "ocr_dpi_extract": """
WITH s AS (
  SELECT doc_id, n_chars,
         CASE
           WHEN doc_id % 3 = 0 THEN 'step xdpi:' || (120 + doc_id % 480) || ' ydpi:999'
           WHEN doc_id % 3 = 1 THEN 'no resolution recorded'
           ELSE 'raw: ' || substr(text, 1, 40)
         END AS settings
  FROM documents
),
d AS (
  SELECT doc_id, n_chars,
         CAST(coalesce(nullif(regexp_extract(settings, 'xdpi:(\\d+)', 1), ''),
                       '300') AS INT) AS dpi
  FROM s
)
SELECT doc_id, dpi, CAST((n_chars * dpi) // 1200 AS BIGINT) AS px FROM d
""",
    "ocr_hocr_bbox": """
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 <> 2 THEN
           'bbox ' || (doc_id % 500) || ' ' || (doc_id % 300) || ' '
            || (doc_id % 500 + n_chars % 200 + 1) || ' '
            || (doc_id % 300 + n_chars % 100 + 1) || '; x_wconf 93'
         ELSE 'x_wconf 12' END AS title
  FROM documents
),
p AS (
  SELECT doc_id,
         regexp_extract(title, 'bbox (\\d+) (\\d+) (\\d+) (\\d+)', 1) AS x0,
         regexp_extract(title, 'bbox (\\d+) (\\d+) (\\d+) (\\d+)', 2) AS y0,
         regexp_extract(title, 'bbox (\\d+) (\\d+) (\\d+) (\\d+)', 3) AS x1,
         regexp_extract(title, 'bbox (\\d+) (\\d+) (\\d+) (\\d+)', 4) AS y1
  FROM t
)
SELECT doc_id,
       CASE WHEN x0 <> '' THEN CAST(x0 AS BIGINT) END AS hpos,
       CASE WHEN x0 <> '' THEN CAST(y0 AS BIGINT) END AS vpos,
       CASE WHEN x0 <> '' THEN CAST(x1 AS BIGINT) - CAST(x0 AS BIGINT) END AS width,
       CASE WHEN x0 <> '' THEN CAST(y1 AS BIGINT) - CAST(y0 AS BIGINT) END AS height
FROM p
""",
    "ocr_response_fixup": """
SELECT doc_id,
       replace(replace(substr(text, 1, 30) || chr(10) || 'line two "quoted"'
                       || chr(10) || 'end', chr(10), ''),
               '"', '''') AS fixed
FROM documents
""",
    "ocr_xml_escape": """
WITH s AS (
  SELECT doc_id, substr(text, 1, 20) || ' é中ß' AS t FROM documents
),
ch AS (
  SELECT doc_id, unnest(string_split(t, '')) AS c,
         generate_subscripts(string_split(t, ''), 1) AS i
  FROM s
)
SELECT doc_id,
       string_agg(
         CASE WHEN unicode(c) > 127 THEN '&#' || unicode(c) || ';' ELSE c END,
         '' ORDER BY i
       ) AS escaped
FROM ch GROUP BY doc_id
""",
    "dedup_exact": """
WITH h AS (SELECT doc_id, md5(text) AS text_hash FROM documents),
g AS (SELECT text_hash, CAST(count(*) AS BIGINT) AS group_size,
             min(doc_id) AS canonical
      FROM h GROUP BY 1)
SELECT doc_id, group_size,
       CASE WHEN doc_id = canonical THEN 1 ELSE 0 END AS is_canonical
FROM h JOIN g USING (text_hash)
""",
    "dedup_ngram_jaccard": _JACCARD_PAIRS,
    # LSH output is exact-verified and misses 0.9-jaccard pairs with
    # p~7e-17, so the exact join IS its oracle.
    "dedup_minhash_lsh": _JACCARD_PAIRS,
    "dedup_clusters": _DUP_CLUSTERS,
    "corpus_export": _CORPUS_EXPORT,
    # decontamination: train-split docs sharing any 3-gram with the
    # test split; split CASE and shingle CTE identical to their
    # standalone twins
    "decontaminate": f"""
WITH spl AS (SELECT doc_id,
                    CASE WHEN u < 0.90 THEN 'train'
                         WHEN u < 0.95 THEN 'val'
                         ELSE 'test' END AS split
             FROM (SELECT doc_id,
                          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            / 1152921504606846976.0 AS u
                   FROM documents)),
toked AS (SELECT d.doc_id, s.split, {_TOKS} AS toks
          FROM documents d JOIN spl s USING (doc_id)),
posd AS (SELECT doc_id, split, generate_subscripts(toks, 1) AS p, toks FROM toked),
shd AS (SELECT DISTINCT doc_id, split,
               toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
        FROM posd WHERE p + 2 <= len(toks)),
esh AS (SELECT DISTINCT shingle FROM shd WHERE split = 'test'),
h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM shd JOIN esh USING (shingle)
      WHERE split = 'train' GROUP BY doc_id)
SELECT t.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM (SELECT doc_id FROM spl WHERE split = 'train') t
LEFT JOIN h USING (doc_id)
""",
    # single-batch replay == batch keep-one: min doc_id per md5 hash
    "stream_dedup": """
WITH h AS (SELECT doc_id, md5(text) AS th FROM documents),
m AS (SELECT th, min(doc_id) AS k FROM h GROUP BY th)
SELECT k AS id, th AS text_hash FROM m
""",
    "dedup_simhash": f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM simhashes
""",
    "simhash_near_pairs": f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM simhashes a JOIN simhashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    "dedup_embedding_cosine": f"""
SELECT a.vec_id AS id1, b.vec_id AS id2, round({_COS_D}, 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_COS_D} >= 0.45
""",
    # LSH: md5-derived planes (operators/ann._planes) replayed in SQL;
    # candidate set = vectors whose bucket is within Hamming distance
    # <= 1 of vec 0's bucket in >= 1 band (multi-probe radius 1 —
    # lsh_topk_stored's default), then the exact cosine re-rank —
    # identical to the Spark operator.
    # batched LSH probe: per-qid Hamming-radius candidates + top-k
    "ann_lsh_batch_topk": _lsh_buckets_cte(8) + """,
qs AS (SELECT vec_id AS qid, list_transform(embedding, x -> x::DOUBLE) AS qv
       FROM embeddings WHERE vec_id IN (0, 17, 100)),
qb AS (SELECT vec_id AS qid, band, bucket AS qbucket FROM buckets
       WHERE vec_id IN (0, 17, 100)),
cand AS (SELECT DISTINCT qb.qid, b.vec_id AS id
         FROM buckets b JOIN qb USING (band)
         WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 1),
s AS (
  SELECT c.qid, c.id,
         list_cosine_similarity(
           list_transform(e.embedding, x -> x::DOUBLE), qs.qv) AS cs
  FROM cand c JOIN embeddings e ON e.vec_id = c.id
  JOIN qs ON qs.qid = c.qid
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cs DESC, id ASC) AS rn
      FROM s)
SELECT qid, id, round(cs, 6) AS cos FROM r WHERE rn <= 10
ORDER BY qid ASC, cos DESC, id ASC
""",
    "ann_lsh_topk": _lsh_buckets_cte(8) + """,
qb AS (SELECT band, bucket AS qbucket FROM buckets WHERE vec_id = 0),
cand AS (SELECT DISTINCT b.vec_id AS id FROM buckets b JOIN qb USING (band)
         WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 1),
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT c.id,
         list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE), q.qv) AS cs
  FROM cand c JOIN embeddings e ON e.vec_id = c.id CROSS JOIN q
)
SELECT id, round(cs, 6) AS cos FROM s ORDER BY cs DESC, id ASC LIMIT 10
""",
    # LSH-pruned near-dup: candidates share >= 1 (band, bucket); each
    # candidate exact-verified by cosine, rounded THEN thresholded —
    # identical to the Spark operator's contract.
    "dedup_embedding_lsh": _lsh_buckets_cte(8) + """,
cand AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY 1, 2
),
s AS (
  SELECT c.id1, c.id2,
         round(list_cosine_similarity(list_transform(e1.embedding, x -> x::DOUBLE),
                                      list_transform(e2.embedding, x -> x::DOUBLE)),
               6) AS cos
  FROM cand c
  JOIN embeddings e1 ON e1.vec_id = c.id1
  JOIN embeddings e2 ON e2.vec_id = c.id2
)
SELECT id1, id2, cos FROM s WHERE cos >= 0.45
""",
    # IVF: centroids = 16 smallest md5('17:'||vec_id) ranks; assignment
    # and probing by cosine with (cs DESC, list_id ASC) tie-break —
    # the same contract as numpy argmax / stable argsort in the operator.
    "ann_ivf_topk": """
WITH cent AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cvec,
         CAST(row_number() OVER (ORDER BY md5('17:' || vec_id)) - 1 AS INT) AS list_id
  FROM embeddings
  ORDER BY md5('17:' || vec_id) LIMIT 16
),
ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
scored AS (
  SELECT ev.vec_id, c.list_id, list_cosine_similarity(ev.v, c.cvec) AS cs
  FROM ev CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, list_id ASC) AS rn
    FROM scored) t WHERE rn = 1
),
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.list_id FROM cent c CROSS JOIN q
  ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.list_id ASC LIMIT 4
),
cand AS (SELECT vec_id FROM assign WHERE list_id IN (SELECT list_id FROM probe)),
s AS (
  SELECT e.vec_id AS id,
         list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE), q.qv) AS cs
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
)
SELECT id, round(cs, 6) AS cos FROM s ORDER BY cs DESC, id ASC LIMIT 10
""",
    # int8 quantized ANN: quantization, integer-dot candidate ranking,
    # candidate cut, and float rerank all replayed — the round() is the
    # only lossy step and both engines round the same doubles.
    # PQ/ADC replay: codebook reselection (md5 rank), per-subspace
    # argmin encode (d ASC, code ASC = numpy first-minimum), ordered
    # 4-term ADC fold (list_sum over j-ordered list = Spark's
    # left-to-right aggregate), exact cosine rerank. Float seam: the
    # subspace distances are 16-term squared-diff sums on both engines
    # (documented 1-ulp tolerance class).
    "ann_pq_topk": """
WITH ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
cb AS (
  SELECT CAST(row_number() OVER (ORDER BY md5('23:' || vec_id)) - 1 AS INT)
           AS code, v
  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings ORDER BY md5('23:' || vec_id) LIMIT 16)
),
q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
sub AS (SELECT CAST(j AS INT) AS j FROM range(4) t(j)),
d AS (
  SELECT ev.vec_id, s.j, cb.code,
         list_sum(list_transform(
           list_zip(ev.v[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM ev CROSS JOIN sub s CROSS JOIN cb
),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM d) t WHERE rn = 1
),
dt AS (
  SELECT s.j, cb.code,
         list_sum(list_transform(
           list_zip(q.qv[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM cb CROSS JOIN sub s CROSS JOIN q
),
ad AS (
  SELECT e.vec_id, list_sum(list(dt.d2 ORDER BY dt.j)) AS adist
  FROM enc e JOIN dt ON dt.j = e.j AND dt.code = e.code
  GROUP BY e.vec_id
),
cand AS (SELECT vec_id FROM ad ORDER BY adist ASC, vec_id ASC LIMIT 40),
s2 AS (SELECT e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cs
       FROM ev e JOIN cand USING (vec_id) CROSS JOIN q)
SELECT id, round(cs, 6) AS cos FROM s2 ORDER BY cs DESC, id ASC LIMIT 10
""",
    "ann_int8_topk": """
WITH qz AS (
  SELECT vec_id AS id,
         CASE WHEN m > 0
              THEN list_transform(v, x -> CAST(round(x * 127 / m) AS INT))
              ELSE list_transform(v, x -> 0) END AS qvec
  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
        FROM embeddings)
),
qn AS (SELECT id, qvec,
              sqrt(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * x))::DOUBLE)
                AS qnorm
       FROM qz),
qq AS (SELECT qvec AS qqv, qnorm AS qqn FROM qn WHERE id = 0),
sc AS (SELECT id, CASE WHEN qnorm > 0 AND qq.qqn > 0
                       THEN list_dot_product(qn.qvec, qq.qqv) / (qnorm * qq.qqn)
                       ELSE 0.0 END AS qcos
       FROM qn CROSS JOIN qq),
cand AS (SELECT id FROM sc ORDER BY qcos DESC, id ASC LIMIT 40),
qv AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
       FROM embeddings WHERE vec_id = 0),
ex AS (SELECT e.vec_id AS id,
              list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                     qv.qv) AS c
       FROM embeddings e JOIN cand ON e.vec_id = cand.id CROSS JOIN qv)
SELECT id, round(c, 6) AS cos FROM ex ORDER BY c DESC, id ASC LIMIT 10
""",
    "ann_cosine_topk": """
WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
           FROM embeddings WHERE vec_id = 0),
s AS (SELECT vec_id AS id,
             list_cosine_similarity(list_transform(embedding, x -> x::DOUBLE), q.qv)
               AS c
      FROM embeddings CROSS JOIN q)
SELECT id, round(c, 6) AS cos FROM s ORDER BY c DESC, id ASC LIMIT 10
""",
    "knn_filtered_topk": """
WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
           FROM embeddings WHERE vec_id = 0),
s AS (SELECT e.vec_id AS id,
             list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                    q.qv) AS c
      FROM embeddings e CROSS JOIN q
      WHERE e.label = 2
        AND e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en'))
SELECT id, round(c, 6) AS cos FROM s ORDER BY c DESC, id ASC LIMIT 10
""",
    "text_token_count": f"""
SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
    # BPE-ish pieces: the same pattern literal runs under Java regex
    # (Spark) and RE2 (DuckDB); the quote is SQL-doubled here.
    "text_token_bpe": """
WITH t AS (
  SELECT doc_id,
         list_filter(
           regexp_extract_all(lower(text),
             '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]{1,3}| ?[^a-z0-9\\s'']+|\\s+|'''''),
           p -> trim(p) != '') AS pieces,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(pieces) AS BIGINT) AS n_pieces,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN len(toks) > 0
            THEN round(len(pieces) / CAST(len(toks) AS DOUBLE), 6)
       END AS pieces_per_token
FROM t
""",
    "text_quality": f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
m AS (SELECT doc_id,
             round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
                   / greatest(length(text), 1), 6) AS alpha_ratio,
             round(len(list_filter(toks, x -> x IN
                   ('the','a','and','of','to','in','is','it')))::DOUBLE
                   / greatest(len(toks), 1), 6) AS stop_ratio,
             round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
                   / greatest(len(toks), 1), 6) AS mean_tok_len
      FROM t)
SELECT doc_id, alpha_ratio, stop_ratio, mean_tok_len,
       round(0.4 * alpha_ratio + 0.3 * least(stop_ratio * 4, 1.0)
             + 0.3 * least(mean_tok_len / 8, 1.0), 6) AS quality
FROM m
""",
    "text_lang_id": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
v AS (SELECT doc_id,
  len(list_filter(toks, x -> x IN ('the','a','and','of','to'))) AS v_en,
  len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS v_fr,
  len(list_filter(toks, x -> x IN ('el','los','y','que','una'))) AS v_es,
  len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS v_de
 FROM t)
SELECT doc_id,
  CASE WHEN greatest(v_en, v_fr, v_es, v_de) = 0 THEN 'und'
       WHEN v_de = greatest(v_en, v_fr, v_es, v_de) THEN 'de'
       WHEN v_en = greatest(v_en, v_fr, v_es, v_de) THEN 'en'
       WHEN v_es = greatest(v_en, v_fr, v_es, v_de) THEN 'es'
       ELSE 'fr' END AS lang_pred,
  CAST(greatest(v_en, v_fr, v_es, v_de) AS BIGINT) AS lang_votes
FROM v
""",
    "text_fingerprint": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
p AS (SELECT doc_id, unnest(toks) AS term,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM t)
SELECT doc_id,
       CAST(sum(('0x' || substr(md5(term || ':' || pos), 1, 10))::BIGINT)
            AS BIGINT) AS fp
FROM p GROUP BY doc_id
""",
    "text_repetition": f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g1 AS (SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM t),
p2 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS p
       FROM t WHERE len(toks) >= 2),
g2 AS (SELECT doc_id, 2 AS n, toks[p] || ' ' || toks[p + 1] AS gram FROM p2),
p3 AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS p
       FROM t WHERE len(toks) >= 3),
g3 AS (SELECT doc_id, 3 AS n,
              toks[p] || ' ' || toks[p + 1] || ' ' || toks[p + 2] AS gram
       FROM p3),
u AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
cnt AS (SELECT doc_id, n, gram, count(*) AS c FROM u GROUP BY doc_id, n, gram),
per AS (SELECT doc_id,
               sum(CASE WHEN n = 1 THEN c ELSE 0 END) AS tot1,
               sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS d1,
               max(CASE WHEN n = 2 THEN c END) AS m2,
               sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS tot2,
               max(CASE WHEN n = 3 THEN c END) AS m3,
               sum(CASE WHEN n = 3 THEN c ELSE 0 END) AS tot3
        FROM cnt GROUP BY doc_id)
SELECT doc_id,
       round(d1 * 1.0 / greatest(tot1, 1), 6) AS distinct_frac,
       round(coalesce(m2, 0) * 1.0 / greatest(tot2, 1), 6) AS top2gram_frac,
       round(coalesce(m3, 0) * 1.0 / greatest(tot3, 1), 6) AS top3gram_frac
FROM per
""",
    "multimodal_features": f"""
SELECT doc_id AS media_id,
       CAST({_MEDIA_NB} AS BIGINT) AS n_bytes,
       CAST(CASE doc_id % 4 WHEN 0 THEN 137 WHEN 1 THEN 255
                            WHEN 2 THEN 82 ELSE 73 END AS INT) AS header_byte,
       CASE doc_id % 4 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
                       WHEN 2 THEN 'audio/wav' ELSE 'audio/mp3' END AS kind_sniffed
FROM documents
""",
    "multimodal_frames": f"""
WITH m AS (SELECT doc_id, {_MEDIA_NB} AS nb FROM documents)
SELECT doc_id AS media_id,
       CAST(unnest(range(CAST(ceil(nb / 64.0) AS BIGINT))) AS INT) AS frame_idx,
       CAST(unnest(range(CAST(ceil(nb / 64.0) AS BIGINT))) * 64 AS BIGINT)
         AS "offset"
FROM m
""",
}


# Turn-level (block-join child) BM25: children are the non-empty turns
# themselves, so dl / df / avgdl are per-turn; parent score = max child.
_PARENT_TOPK = f"""
WITH {_CTE},
chd AS (
  SELECT conv_id, turn_idx,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM transcripts WHERE length(trim(text)) > 0
),
ch AS (SELECT conv_id, turn_idx, toks, CAST(len(toks) AS BIGINT) AS dl FROM chd),
stats AS (SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM ch),
tok AS (SELECT conv_id, turn_idx, dl, unnest(toks) AS term FROM ch),
tf AS (
  SELECT conv_id, turn_idx, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY conv_id, turn_idx, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.conv_id, tf.turn_idx,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.conv_id, tf.turn_idx
),
parents AS (
  SELECT conv_id, max(raw) AS raw, CAST(count(*) AS INT) AS n_child_hits
  FROM scored GROUP BY conv_id
)
SELECT conv_id, round(raw, 6) AS score, n_child_hits
FROM parents ORDER BY round(raw, 6) DESC, conv_id ASC LIMIT 10
"""

# {!child of=...}: all dense-ordinal turns of the doc-level top-5.
_CHILD_EXPAND = f"""
WITH {_CTE},
{_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
top5 AS (SELECT conv_id, raw FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 5),
t AS (
  SELECT conv_id, role,
         CAST(row_number() OVER (
           PARTITION BY conv_id ORDER BY turn_idx, ts) - 1 AS INT) AS ordinal
  FROM transcripts WHERE length(trim(text)) > 0
)
SELECT t.conv_id, t.ordinal, t.role, round(p.raw, 6) AS parent_score
FROM t JOIN top5 p USING (conv_id)
"""

# QueryElevationComponent: pins rank 1..e in list order (score 0.0 when
# injected without a match), organic fills e+1..k with pins removed.
_ELEVATION = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
ev(conv_id, rank) AS (VALUES ('c00000011', 1), ('c00000003', 2)),
organic AS (
  SELECT CAST(row_number() OVER (ORDER BY raw DESC, doc_id ASC) + 2 AS INT)
           AS rank,
         conv_id, raw
  FROM (
    SELECT s.doc_id, s.conv_id, s.raw
    FROM scored s ANTI JOIN ev USING (conv_id)
    ORDER BY s.raw DESC, s.doc_id ASC LIMIT 8
  )
),
pinned AS (
  SELECT ev.rank, ev.conv_id, coalesce(s.raw, 0.0) AS raw
  FROM ev LEFT JOIN scored s USING (conv_id)
)
SELECT rank, conv_id, round(raw, 6) AS score, TRUE AS elevated FROM pinned
UNION ALL
SELECT rank, conv_id, round(raw, 6) AS score, FALSE AS elevated FROM organic
ORDER BY rank
"""

# Atomic update (set/inc/upsert) — the MERGE INTO truth table.
_ATOMIC_UPDATE = """
WITH base AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         lang, CAST(n_chars AS BIGINT) AS n_chars, doc_id
  FROM documents
)
SELECT conv_id,
       CASE WHEN doc_id % 7 = 2 THEN 'xx' ELSE lang END AS lang,
       n_chars + CASE WHEN doc_id % 5 = 0 THEN 1000 ELSE 0 END AS n_chars
FROM base
UNION ALL
SELECT 'c99999999', 'zz', CAST(7 AS BIGINT)
"""

# Asymmetric (new-batch vs corpus) exact jaccard — the incremental
# dedup's verification truth; LSH recall is the same 1-(1-s^4)^32 as
# the self-join (misses vanish above ~0.75 similarity).
_INCREMENTAL_DEDUP = f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM docs),
sh AS (SELECT DISTINCT doc_id, toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_id, b.doc_id AS dup_of, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle
          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
          GROUP BY 1, 2),
j AS (SELECT inter.doc_id, inter.dup_of, i::DOUBLE / (c1.c + c2.c - i) AS jac
      FROM inter
      JOIN card c1 ON inter.doc_id = c1.doc_id
      JOIN card c2 ON inter.dup_of = c2.doc_id)
SELECT doc_id, dup_of, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.3
"""

# LTR linear model over the BM25 top-50 window.
_LTR_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id, max(tf.dl) AS dl,
         CAST(count(*) AS INT) AS n_matched,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
cands AS (SELECT * FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 50),
m AS (
  SELECT c.doc_id, c.conv_id, c.raw,
         1.0 * c.raw + 0.5 * (c.n_matched / 3.0)
           + (-0.25) * (c.dl / s.avgdl) AS ltr
  FROM cands c CROSS JOIN stats s
)
SELECT doc_id, conv_id, round(raw, 6) AS bm25, round(ltr, 6) AS ltr_score
FROM m ORDER BY ltr DESC, doc_id ASC LIMIT 10
"""

# facet.interval: overlapping closed intervals, one conditional agg.
_FACET_INTERVAL = f"""
WITH {_DOCS},
tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM ids),
matched AS (
  SELECT doc_id, max(dl) AS dl FROM tok
  WHERE term IN {FLAGSHIP_TERMS!r} GROUP BY doc_id
),
w AS (
  SELECT
    sum(CASE WHEN dl BETWEEN 0 AND 39 THEN 1 ELSE 0 END) AS c0,
    sum(CASE WHEN dl BETWEEN 32 AND 63 THEN 1 ELSE 0 END) AS c1,
    sum(CASE WHEN dl BETWEEN 60 AND 10000 THEN 1 ELSE 0 END) AS c2
  FROM matched
)
SELECT 0 AS ival, CAST(0 AS BIGINT) AS lo, CAST(39 AS BIGINT) AS hi,
       CAST(c0 AS BIGINT) AS n_docs FROM w
UNION ALL
SELECT 1, CAST(32 AS BIGINT), CAST(63 AS BIGINT), CAST(c1 AS BIGINT) FROM w
UNION ALL
SELECT 2, CAST(60 AS BIGINT), CAST(10000 AS BIGINT), CAST(c2 AS BIGINT) FROM w
ORDER BY ival
"""

# /get: stored doc-values for an explicit id list; absent ids omitted.
_REALTIME_GET = f"""
WITH {_CTE},
{_TURNS},
agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(length(text)) + count(*) - 1 AS BIGINT) AS n_chars
  FROM turns GROUP BY conv_id
),
ids2 AS (
  SELECT CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS doc_id,
         conv_id, n_turns, n_chars
  FROM agg
),
dls AS (
  SELECT 'c' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS dl
  FROM documents
)
SELECT i.doc_id, i.conv_id, d.dl, i.n_turns, i.n_chars
FROM ids2 i JOIN dls d USING (conv_id)
WHERE i.conv_id IN ('c00000003', 'c00000011', 'c00000404', 'c99999999')
ORDER BY i.conv_id
"""

# spellcheck.collate: per-word top correction (dist ASC, df DESC,
# term ASC over the same length band), then plain BM25 on the
# collated terms.
_SPELLCHECK_COLLATE = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tfs AS (SELECT term, doc_id FROM tokall GROUP BY term, doc_id),
vocab AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
c0 AS (SELECT term FROM vocab
       WHERE length(term) BETWEEN length('spak') - 2 AND length('spak') + 2
         AND levenshtein(term, 'spak') <= 2
       ORDER BY levenshtein(term, 'spak'), df DESC, term LIMIT 1),
c1 AS (SELECT term FROM vocab
       WHERE length(term) BETWEEN length('windw') - 2 AND length('windw') + 2
         AND levenshtein(term, 'windw') <= 2
       ORDER BY levenshtein(term, 'windw'), df DESC, term LIMIT 1),
c2 AS (SELECT term FROM vocab
       WHERE length(term) BETWEEN length('merge') - 2 AND length('merge') + 2
         AND levenshtein(term, 'merge') <= 2
       ORDER BY levenshtein(term, 'merge'), df DESC, term LIMIT 1),
qt AS (SELECT term FROM c0 UNION SELECT term FROM c1 UNION SELECT term FROM c2),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tokall WHERE term IN (SELECT term FROM qt)
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""

_LENGTH_HISTOGRAM = """
SELECT source,
       CAST(floor(log2(greatest(
           len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1))) AS INT)
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY 1, 2 ORDER BY 1, 2
"""

# SynonymQuery: group tf = sum of members, group df = max of members.
_SYNONYM_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
gmap(grp, term) AS (VALUES ('merge', 'merge'), ('merge', 'join'),
                           ('merge', 'combine'), ('window', 'window')),
tf0 AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tokall WHERE term IN ('merge', 'join', 'combine', 'window')
  GROUP BY doc_id, conv_id, dl, term
),
dfm AS (SELECT term, count(*) AS df FROM tf0 GROUP BY term),
gdf AS (SELECT g.grp, max(d.df) AS df FROM gmap g JOIN dfm d USING (term)
        GROUP BY g.grp),
merged AS (
  SELECT t.doc_id, t.conv_id, t.dl, g.grp, sum(t.tf) AS tf
  FROM tf0 t JOIN gmap g USING (term)
  GROUP BY t.doc_id, t.conv_id, t.dl, g.grp
),
scored AS (
  SELECT m.doc_id, m.conv_id,
         sum(
           ln(1 + (s.n_docs - gdf.df + 0.5) / (gdf.df + 0.5))
           * (m.tf * 2.2) / (m.tf + 1.2 * (0.25 + 0.75 * m.dl / s.avgdl))
         ) AS raw
  FROM merged m JOIN gdf USING (grp) CROSS JOIN stats s
  GROUP BY m.doc_id, m.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 10
"""

# bq=: additive boost-query leg left-joined onto the main match set.
_BQ_TOPK = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tfm AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tokall WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfm AS (SELECT term, count(*) AS df FROM tfm GROUP BY term),
main AS (
  SELECT tfm.doc_id, tfm.conv_id,
         sum(
           ln(1 + (s.n_docs - dfm.df + 0.5) / (dfm.df + 0.5))
           * (tfm.tf * 2.2) / (tfm.tf + 1.2 * (0.25 + 0.75 * tfm.dl / s.avgdl))
         ) AS raw
  FROM tfm JOIN dfm USING (term) CROSS JOIN stats s
  GROUP BY tfm.doc_id, tfm.conv_id
),
tfb AS (
  SELECT doc_id, dl, CAST(count(*) AS INT) AS tf
  FROM tokall WHERE term = 'fast' GROUP BY doc_id, dl
),
dfb AS (SELECT count(*) AS df FROM tfb),
bq AS (
  SELECT tfb.doc_id,
         ln(1 + (s.n_docs - dfb.df + 0.5) / (dfb.df + 0.5))
         * (tfb.tf * 2.2) / (tfb.tf + 1.2 * (0.25 + 0.75 * tfb.dl / s.avgdl))
           AS bq_raw
  FROM tfb CROSS JOIN dfb CROSS JOIN stats s
)
SELECT m.doc_id, m.conv_id, round(m.raw, 6) AS score,
       round(m.raw + 0.5 * coalesce(b.bq_raw, 0.0), 6) AS boosted
FROM main m LEFT JOIN bq b USING (doc_id)
ORDER BY m.raw + 0.5 * coalesce(b.bq_raw, 0.0) DESC, m.doc_id ASC LIMIT 10
"""

# Gopher rules: every ratio is an exact-integer division, so the rule
# booleans replay bit-for-bit.
_GOPHER_RULES = """
WITH f AS (
  SELECT source,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         str_split(text, chr(10)) AS lines
  FROM documents
),
r AS (
  SELECT source,
         NOT (len(toks) BETWEEN 50 AND 100000) AS f_wc,
         NOT (list_sum(list_transform(toks, x -> length(x)))
              / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0) AS f_ml,
         (len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
          / CAST(greatest(len(toks), 1) AS DOUBLE)) < 0.80 AS f_al,
         (1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE))
           > 0.30 AS f_dl
  FROM f
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN NOT f_wc AND NOT f_ml AND NOT f_al AND NOT f_dl
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_word_count,
       CAST(sum(CASE WHEN f_ml THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_mean_len,
       CAST(sum(CASE WHEN f_al THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
       CAST(sum(CASE WHEN f_dl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_dup_lines
FROM r GROUP BY source ORDER BY source
"""

# SFT pair assembly: bounded window context, role-tagged prompt lines.
_SFT_PAIRS = f"""
WITH {_CTE},
t AS (
  SELECT conv_id, role, text,
         CAST(row_number() OVER (
           PARTITION BY conv_id ORDER BY turn_idx, ts) - 1 AS INT) AS ordinal
  FROM transcripts WHERE length(trim(text)) > 0
),
p AS (
  SELECT conv_id, ordinal, role, text,
         list(role || ': ' || text) OVER (
           PARTITION BY conv_id ORDER BY ordinal
           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS ctx
  FROM t
)
SELECT conv_id, ordinal,
       coalesce(array_to_string(ctx, chr(10)), '') AS prompt,
       text AS completion
FROM p WHERE role = 'assistant'
ORDER BY conv_id, ordinal
"""

# debug=true: per-term BM25 Explanation rows for the top-3 docs.
_SCORE_EXPLAIN = f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
parts AS (
  SELECT tf.doc_id, tf.conv_id, tf.term, tf.tf, tf.dl,
         CAST(dfreq.df AS BIGINT) AS df,
         ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS idf,
         (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl)) AS tf_norm
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
),
totals AS (
  SELECT doc_id, sum(idf * tf_norm) AS raw FROM parts GROUP BY doc_id
),
top3 AS (SELECT doc_id, raw FROM totals ORDER BY raw DESC, doc_id ASC LIMIT 3)
SELECT p.doc_id, p.conv_id, p.term, p.tf, CAST(p.dl AS BIGINT) AS dl, p.df,
       round(p.idf, 6) AS idf, round(p.tf_norm, 6) AS tf_norm,
       round(p.idf * p.tf_norm, 6) AS term_score,
       round(t.raw, 6) AS score
FROM parts p JOIN top3 t USING (doc_id)
ORDER BY t.raw DESC, p.doc_id ASC, p.term ASC
"""

_BLOCKLIST_PROFILE = """
WITH flags AS (
  SELECT source,
         CASE WHEN len(list_intersect(
             regexp_extract_all(lower(text), '[a-z0-9]+'),
             ['vector', 'gpu'])) > 0 THEN 1 ELSE 0 END AS hit
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(hit) AS BIGINT) AS n_dropped,
       CAST(count(*) - sum(hit) AS BIGINT) AS n_kept
FROM flags GROUP BY source ORDER BY source
"""


def _pagerank_sql(iters: int = 10, k: int = 20) -> str:
    """Unrolled power-iteration PageRank twin: DuckDB's recursive CTEs
    reject aggregation in the recursive term, so the fixed iteration
    count unrolls into chained CTEs (pr0..prN) — each the exact
    relational transcription of one Spark round. All float literals
    CAST to DOUBLE (DuckDB parses 0.85 as DECIMAL; decimal arithmetic
    diverges from Spark's doubles)."""
    head = """
WITH nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents),
edges AS (
  SELECT src,
         CAST((src * 31 + j * 7 + 1) % (SELECT n FROM nn) AS BIGINT) AS dst
  FROM (SELECT node AS src FROM nodes)
  CROSS JOIN (SELECT unnest([0, 1]) AS j)
  WHERE (src * 31 + j * 7 + 1) % (SELECT n FROM nn) <> src
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
        FROM nodes)"""
    body = ""
    for i in range(1, iters + 1):
        body += f""",
pr{i} AS (
  SELECT nd.node,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
           / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE) * coalesce(c.c, 0) AS r
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(p.r / d.outdeg) AS c
    FROM edges e JOIN deg d USING (src) JOIN pr{i - 1} p ON p.node = e.src
    GROUP BY e.dst
  ) c ON c.node = nd.node
)"""
    tail = f"""
SELECT node, round(r, 6) AS rank FROM pr{iters}
ORDER BY rank DESC, node ASC LIMIT {k}
"""
    return head + body + tail


def _oracle_sql_base() -> dict[str, str]:
    return {
        "doc_materialize": f"""
WITH {_CTE},
{_TURNS},
agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(length(text)) + count(*) - 1 AS BIGINT) AS n_chars
  FROM turns GROUP BY conv_id
)
SELECT CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS doc_id,
       conv_id, n_turns, n_chars
FROM agg
""",
        "turn_ordinals": f"""
WITH {_CTE},
{_TURNS}
SELECT conv_id, turn_idx, ordinal, char_start, char_end FROM turns
""",
        "term_stats": """
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS term FROM docs),
tfs AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id)
SELECT term,
       CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS cf
FROM tfs GROUP BY term
ORDER BY df DESC, term ASC LIMIT 50
""",
        "bm25_topk": _BM25,
        "bm25_wand_topk": _BM25,
        "conjunctive_topk": _CONJ,
        "phrase_match": _PHRASE_MATCH,
        "phrase_highlight_offsets": _PHRASE_HL_OFFSETS,
        "phrase_snippet_render": _PHRASE_SNIPPET,
        "phrase_topk": _PHRASE_TOPK,
        "proximity_topk": _PROX_TOPK,
        "rerank_topk": _RERANK_TOPK,
        "membership_check": f"""
WITH {_CTE},
present AS (
  SELECT DISTINCT conv_id FROM transcripts WHERE length(trim(text)) > 0
)
SELECT p.conv_id,
       CASE WHEN pr.conv_id IS NULL THEN 0 ELSE 1 END AS present
FROM (VALUES ('c00000001'), ('c00000007'), ('cNOPE')) AS p(conv_id)
LEFT JOIN present pr ON p.conv_id = pr.conv_id
""",
        "projection_limit": f"""
WITH {_CTE},
{_TURNS},
agg AS (
  SELECT conv_id,
         CAST(sum(length(text)) + count(*) - 1 AS BIGINT) AS n_chars
  FROM turns GROUP BY conv_id
)
SELECT conv_id, n_chars FROM agg
WHERE conv_id < 'c00000600'
ORDER BY conv_id LIMIT 600
""",
        "delete_by_query": f"""
WITH {_CTE},
{_TURNS},
agg AS (SELECT conv_id FROM turns GROUP BY conv_id),
ids AS (
  SELECT conv_id,
         CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS doc_id
  FROM agg
)
SELECT doc_id, conv_id FROM ids WHERE doc_id % 10 <> 3
""",
        "highlight_offsets": _HL_PREFIX + f"""
SELECT tm.conv_id, tm.turn_idx, tm.word AS term,
       CAST(tm.doc_start - ts.turn_char_start AS INT) AS start_in_turn,
       CAST(tm.doc_start - ts.turn_char_start + length(tm.word) AS INT) AS end_in_turn
FROM turnmap tm
JOIN turn_starts ts USING (conv_id, turn_idx)
WHERE tm.word IN {FLAGSHIP_TERMS!r}
""",
        # Rendered snippets: same top-5 + word/turn reconstruction; the
        # snippet is the matched turn's words re-joined with every
        # matched word wrapped in <em></em> (word == token in this
        # corpus, so token-span wrapping and word wrapping coincide —
        # the same identity highlight_offsets' oracle already relies on).
        "snippet_render": _HL_PREFIX + f"""
SELECT tm.conv_id, tm.turn_idx,
       string_agg(
         CASE WHEN tm.word IN {FLAGSHIP_TERMS!r}
              THEN '<em>' || tm.word || '</em>' ELSE tm.word END,
         ' ' ORDER BY tm.wpos) AS snippet
FROM turnmap tm
GROUP BY tm.conv_id, tm.turn_idx
HAVING max(CASE WHEN tm.word IN {FLAGSHIP_TERMS!r} THEN 1 ELSE 0 END) = 1
""",
        # hl.fragsize: token-window fragments — doc-level hit position
        # clamped to the turn's wpos range replays the engine's
        # in-turn window exactly (in-turn index = wpos - turn_idx*TW).
        "fragment_snippets": _HL_PREFIX + f""",
m AS (SELECT conv_id, turn_idx, min(wpos) AS p0
      FROM turnmap WHERE word IN {FLAGSHIP_TERMS!r}
      GROUP BY conv_id, turn_idx),
b AS (SELECT conv_id, turn_idx, min(wpos) AS t_lo, max(wpos) AS t_hi
      FROM turnmap GROUP BY conv_id, turn_idx),
w AS (SELECT m.conv_id, m.turn_idx,
             greatest(b.t_lo, m.p0 - 3) AS lo, least(b.t_hi, m.p0 + 3) AS hi,
             b.t_lo, b.t_hi
      FROM m JOIN b USING (conv_id, turn_idx))
SELECT w.conv_id, w.turn_idx,
       (CASE WHEN w.lo > w.t_lo THEN '… ' ELSE '' END) ||
       string_agg(CASE WHEN tm.word IN {FLAGSHIP_TERMS!r}
                       THEN '<em>' || tm.word || '</em>' ELSE tm.word END,
                  ' ' ORDER BY tm.wpos) ||
       (CASE WHEN w.hi < w.t_hi THEN ' …' ELSE '' END) AS fragment
FROM w JOIN turnmap tm ON tm.conv_id = w.conv_id AND tm.turn_idx = w.turn_idx
                      AND tm.wpos BETWEEN w.lo AND w.hi
GROUP BY w.conv_id, w.turn_idx, w.lo, w.hi, w.t_lo, w.t_hi
""",
        # hl.snippets=N: hit islands (gap > 2*fw), passage = window
        # around the island's first hit, score = integer-scaled idf
        # mass of VISIBLE hits, per-doc rank, top-2 rendered.
        "fragment_snippets_multi": _HL_PREFIX + f""",
hitw AS (SELECT conv_id, turn_idx, wpos, word
         FROM turnmap WHERE word IN {FLAGSHIP_TERMS!r}),
isl AS (
  SELECT conv_id, turn_idx, wpos, word,
         CASE WHEN lag(wpos) OVER (PARTITION BY conv_id, turn_idx
                  ORDER BY wpos) IS NULL
                OR wpos - lag(wpos) OVER (PARTITION BY conv_id,
                  turn_idx ORDER BY wpos) > 6
              THEN 1 ELSE 0 END AS new_p
  FROM hitw
),
pidt AS (
  SELECT *, sum(new_p) OVER (PARTITION BY conv_id, turn_idx
              ORDER BY wpos ROWS UNBOUNDED PRECEDING) AS pid
  FROM isl
),
anch AS (SELECT conv_id, turn_idx, pid, min(wpos) AS anchor
         FROM pidt GROUP BY conv_id, turn_idx, pid),
vis AS (
  SELECT p.conv_id, p.turn_idx, p.pid, a.anchor, p.word
  FROM pidt p JOIN anch a USING (conv_id, turn_idx, pid)
  WHERE p.wpos <= a.anchor + 3
),
psc AS (
  SELECT v.conv_id, v.turn_idx, v.pid, v.anchor,
         CAST(sum(CAST(floor(1000000 * ln(1 + (s.n_docs - d.df + 0.5)
             / (d.df + 0.5))) AS BIGINT)) AS BIGINT) AS psc
  FROM vis v JOIN dfreq d ON d.term = v.word CROSS JOIN stats s
  GROUP BY v.conv_id, v.turn_idx, v.pid, v.anchor
),
rankp AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY conv_id
              ORDER BY psc DESC, turn_idx ASC, anchor ASC) AS INT)
            AS frag_rank
  FROM psc
),
selp AS (SELECT * FROM rankp WHERE frag_rank <= 2),
tb AS (SELECT conv_id, turn_idx, min(wpos) AS t_lo, max(wpos) AS t_hi
       FROM turnmap GROUP BY conv_id, turn_idx),
wf AS (
  SELECT sp.conv_id, sp.turn_idx, sp.frag_rank, sp.psc, sp.anchor,
         greatest(tb.t_lo, sp.anchor - 3) AS lo,
         least(tb.t_hi, sp.anchor + 3) AS hi, tb.t_lo, tb.t_hi
  FROM selp sp JOIN tb USING (conv_id, turn_idx)
)
SELECT t5.doc_id, wf.conv_id, wf.turn_idx, wf.frag_rank,
       wf.psc AS passage_score_scaled,
       (CASE WHEN wf.lo > wf.t_lo THEN '… ' ELSE '' END) ||
       string_agg(CASE WHEN tm.word IN {FLAGSHIP_TERMS!r}
                       THEN '<em>' || tm.word || '</em>' ELSE tm.word
                  END, ' ' ORDER BY tm.wpos) ||
       (CASE WHEN wf.hi < wf.t_hi THEN ' …' ELSE '' END) AS fragment
FROM wf
JOIN turnmap tm ON tm.conv_id = wf.conv_id
               AND tm.turn_idx = wf.turn_idx
               AND tm.wpos BETWEEN wf.lo AND wf.hi
JOIN top5 t5 ON t5.conv_id = wf.conv_id
GROUP BY t5.doc_id, wf.conv_id, wf.turn_idx, wf.frag_rank, wf.psc,
         wf.lo, wf.hi, wf.t_lo, wf.t_hi
""",
        # cursorMark page two == offset page two under the total order
        # (score DESC, doc_id ASC) — the oracle replays it as OFFSET.
        "cursor_topk": _BM25.replace("LIMIT 10", "LIMIT 10 OFFSET 10"),
        "significant_terms": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
td AS (SELECT DISTINCT doc_id, term FROM tok),
fgd AS (SELECT doc_id FROM td WHERE term = 'spark'),
fg AS (
  SELECT term, CAST(count(*) AS BIGINT) AS fg_df
  FROM td JOIN fgd USING (doc_id)
  WHERE term <> 'spark'
  GROUP BY term HAVING count(*) >= 2
),
bg AS (SELECT term, CAST(count(*) AS BIGINT) AS bg_df FROM td GROUP BY term)
SELECT term, fg_df, bg_df,
       CAST(floor(fg_df * 1000000 / bg_df) AS BIGINT) AS sig_scaled
FROM fg JOIN bg USING (term)
ORDER BY sig_scaled DESC, term ASC LIMIT 20
""",
        "facet_query_counts": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
td AS (SELECT DISTINCT doc_id, term FROM tok),
termf AS (
  SELECT 'q:' || term AS facet, CAST(count(*) AS BIGINT) AS n_docs
  FROM td WHERE term IN ('spark', 'window', 'merge') GROUP BY term
),
rangef AS (
  SELECT 'dl:[0 TO 64)' AS facet,
         CAST(sum(CASE WHEN dl >= 0 AND dl < 64 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs
  FROM ids
  UNION ALL
  SELECT 'dl:[64 TO 192)',
         CAST(sum(CASE WHEN dl >= 64 AND dl < 192 THEN 1 ELSE 0 END) AS BIGINT)
  FROM ids
)
SELECT facet, n_docs FROM (
  SELECT * FROM termf UNION ALL SELECT * FROM rangef
) ORDER BY facet
""",
        "json_facet_nested": """
WITH fine AS (
  SELECT lang AS o_key, source AS i_key,
         CAST(count(*) AS BIGINT) AS inner_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_metric
  FROM documents GROUP BY lang, source
),
outer_tot AS (
  SELECT o_key, CAST(sum(inner_docs) AS BIGINT) AS outer_docs,
         row_number() OVER (ORDER BY sum(inner_docs) DESC, o_key ASC) AS orank
  FROM fine GROUP BY o_key
),
ranked AS (
  SELECT f.o_key, o.outer_docs, f.i_key, f.inner_docs, f.sum_metric,
         row_number() OVER (
           PARTITION BY f.o_key ORDER BY f.inner_docs DESC, f.i_key ASC
         ) AS irank
  FROM fine f JOIN outer_tot o USING (o_key) WHERE o.orank <= 3
)
SELECT o_key AS lang, outer_docs, i_key AS source, inner_docs, sum_metric
FROM ranked WHERE irank <= 2
ORDER BY outer_docs DESC, lang, inner_docs DESC, source
""",
        # same synthetic edge derivation as operators/graph.synth_edges
        # (fanout 2, stride 7), BFS layers as chained join + anti CTEs
        "graph_expand": """
WITH nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS src FROM documents),
edges AS (
  SELECT src,
         CAST((src * 31 + j * 7 + 1) % (SELECT n FROM nn) AS BIGINT) AS dst
  FROM nodes CROSS JOIN (SELECT unnest([0, 1]) AS j)
  WHERE (src * 31 + j * 7 + 1) % (SELECT n FROM nn) <> src
),
d0 AS (SELECT CAST(node AS BIGINT) AS node
       FROM (VALUES (0), (17)) AS s(node)),
d1 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN d0 ON e.src = d0.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
),
d2 AS (
  SELECT DISTINCT e.dst AS node FROM edges e JOIN d1 ON e.src = d1.node
  WHERE e.dst NOT IN (SELECT node FROM d0)
    AND e.dst NOT IN (SELECT node FROM d1)
)
SELECT node, CAST(0 AS INTEGER) AS depth FROM d0
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2
ORDER BY depth, node
""",
        "paragraph_dedup": f"""
WITH {_CTE},
{_TURNS},
flagged AS (
  SELECT conv_id, turn_idx,
         CASE WHEN row_number() OVER (
                PARTITION BY md5(text) ORDER BY conv_id, turn_idx
              ) = 1 THEN 1 ELSE 0 END AS first_occ
  FROM turns
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(first_occ) AS BIGINT) AS kept_turns
FROM flagged GROUP BY conv_id ORDER BY conv_id
""",
        "domain_cap": """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                      / 1152921504606846976.0 ASC,
                    doc_id ASC
         ) AS rnk
  FROM documents
)
SELECT source AS domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rnk <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM ranked GROUP BY source ORDER BY domain
""",
        "export_sorted": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
matched AS (
  SELECT doc_id, conv_id, max(dl) AS dl
  FROM tok WHERE term IN ('spark', 'window', 'merge')
  GROUP BY doc_id, conv_id
)
SELECT doc_id, conv_id, CAST(dl AS BIGINT) AS dl
FROM matched WHERE dl >= 32 AND dl <= 160
ORDER BY dl DESC, doc_id ASC
""",
        "parent_topk": _PARENT_TOPK,
        "child_expand": _CHILD_EXPAND,
        "elevation_topk": _ELEVATION,
        "atomic_update": _ATOMIC_UPDATE,
        "blocklist_profile": _BLOCKLIST_PROFILE,
        "incremental_dedup": _INCREMENTAL_DEDUP,
        "ltr_topk": _LTR_TOPK,
        "facet_interval": _FACET_INTERVAL,
        "realtime_get": _REALTIME_GET,
        "spellcheck_collate": _SPELLCHECK_COLLATE,
        "length_histogram": _LENGTH_HISTOGRAM,
        "synonym_topk": _SYNONYM_TOPK,
        "bq_topk": _BQ_TOPK,
        "gopher_rules": _GOPHER_RULES,
        "sft_pairs": _SFT_PAIRS,
        "score_explain": _SCORE_EXPLAIN,
        "stream_rollup": """
SELECT source, lang, count(*) AS count_all,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       round(avg(n_chars), 6) AS avg_n_chars
FROM documents WHERE n_chars >= 100
GROUP BY source, lang HAVING count(*) >= 2
ORDER BY source, lang
""",
        "stream_hashjoin": """
WITH pc AS (SELECT source, count(*) AS count_all FROM documents GROUP BY source)
SELECT d.doc_id, d.source, d.n_chars, pc.count_all
FROM documents d JOIN pc USING (source)
WHERE d.lang = 'en'
ORDER BY d.n_chars DESC, d.doc_id ASC LIMIT 20
""",
        "stream_complement": """
SELECT doc_id, source FROM documents
WHERE lang = 'en'
  AND doc_id NOT IN (SELECT vec_id FROM embeddings WHERE label = 3)
ORDER BY doc_id
""",
        "stream_facet": """
SELECT source, lang, count(*) AS count_all,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       round(avg(n_chars), 6) AS avg_n_chars
FROM documents WHERE n_chars >= 50
GROUP BY source, lang
ORDER BY count_all DESC, source, lang
LIMIT 10
""",
        "stream_stats": """
SELECT count(*) AS count_all,
       CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
       CAST(min(n_chars) AS BIGINT) AS min_n_chars,
       CAST(max(n_chars) AS BIGINT) AS max_n_chars,
       round(avg(n_chars), 6) AS avg_n_chars
FROM documents WHERE lang = 'en'
""",
        "stream_fetch": """
SELECT d.doc_id, d.source, e.label
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.lang = 'de'
ORDER BY d.doc_id
""",
        "stream_cartesian": """
SELECT vec_id, round(CAST(unnest(embedding) AS DOUBLE), 6) AS val
FROM embeddings WHERE label = 3
ORDER BY vec_id
""",
        "sql_select": _SQL_HANDLER_STMT,
        "term_boost_topk": _TERM_BOOST_TOPK,
        "pf_topk": _PF_TOPK,
        "semantic_dedup": """
WITH cent AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cvec,
         CAST(row_number() OVER (ORDER BY md5('17:' || vec_id)) - 1 AS INT) AS list_id
  FROM embeddings
  ORDER BY md5('17:' || vec_id) LIMIT 16
),
ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
scored AS (
  SELECT ev.vec_id, c.list_id, list_cosine_similarity(ev.v, c.cvec) AS cs
  FROM ev CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, list_id ASC) AS rn
    FROM scored) t WHERE rn = 1
),
pairs AS (
  SELECT a_hi.vec_id AS dup_id, a_lo.vec_id AS keep_id, a_hi.list_id,
         list_cosine_similarity(e_hi.v, e_lo.v) AS cos
  FROM assign a_hi
  JOIN assign a_lo ON a_lo.list_id = a_hi.list_id AND a_lo.vec_id < a_hi.vec_id
  JOIN ev e_hi ON e_hi.vec_id = a_hi.vec_id
  JOIN ev e_lo ON e_lo.vec_id = a_lo.vec_id
  WHERE list_cosine_similarity(e_hi.v, e_lo.v) >= 0.38
),
first AS (
  SELECT dup_id, keep_id, list_id, cos,
         row_number() OVER (PARTITION BY dup_id ORDER BY keep_id ASC) AS rn
  FROM pairs
)
SELECT dup_id, keep_id, list_id, round(cos, 6) AS cos
FROM first WHERE rn = 1 ORDER BY dup_id
""",
        # timeseries(): floor(epoch) matches Spark's truncating
        # unix_timestamp (CAST would ROUND sub-second fractions across
        # a bucket edge); generate_series stop is INCLUSIVE -> end-1.
        "stream_timeseries": """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, value
  FROM events WHERE event_type = 'purchase'
),
agg AS (
  SELECT CAST(1704067200 + ((es - 1704067200) // 14400) * 14400 AS BIGINT)
           AS bucket_start,
         CAST(count(*) AS BIGINT) AS count_all,
         round(sum(value), 6) AS sum_value
  FROM e WHERE es >= 1704067200 AND es < 1704326400
  GROUP BY 1
),
spine AS (
  SELECT CAST(x AS BIGINT) AS bucket_start
  FROM generate_series(1704067200, 1704326399, 14400) s(x)
)
SELECT s.bucket_start, coalesce(a.count_all, 0) AS count_all, a.sum_value
FROM spine s LEFT JOIN agg a USING (bucket_start)
ORDER BY s.bucket_start
""",
        # facet.range other=all, hardend=true: nb=4 buckets of 250 from
        # 150, effective end 1100; empty buckets ride the spine with 0.
        "facet_range_other": """
WITH hist AS (
  SELECT CAST((n_chars - 150) // 250 AS INT) AS ord,
         CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE n_chars >= 150 AND n_chars < 1100 GROUP BY 1
),
spine AS (SELECT CAST(x AS INT) AS ord FROM generate_series(0, 3) s(x)),
buckets AS (
  SELECT s.ord, CAST(150 + s.ord * 250 AS VARCHAR) AS bucket,
         coalesce(h.n, 0) AS n_docs
  FROM spine s LEFT JOIN hist h USING (ord)
),
others AS (
  SELECT CAST(4 AS INT) AS ord, 'before' AS bucket,
         CAST(count(*) FILTER (WHERE n_chars < 150) AS BIGINT) AS n_docs
  FROM documents
  UNION ALL
  SELECT CAST(5 AS INT), 'between',
         CAST(count(*) FILTER (WHERE n_chars >= 150 AND n_chars < 1100)
              AS BIGINT)
  FROM documents
  UNION ALL
  SELECT CAST(6 AS INT), 'after',
         CAST(count(*) FILTER (WHERE n_chars >= 1100) AS BIGINT)
  FROM documents
)
SELECT * FROM buckets UNION ALL SELECT * FROM others ORDER BY ord
""",
        # ^= constant score: the bq machinery with the boost leg
        # replaced by a fixed +2.0 on membership (tf >= 1 of 'fast').
        "constant_score_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tfm AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tokall WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfm AS (SELECT term, count(*) AS df FROM tfm GROUP BY term),
main AS (
  SELECT tfm.doc_id, tfm.conv_id,
         sum(
           ln(1 + (s.n_docs - dfm.df + 0.5) / (dfm.df + 0.5))
           * (tfm.tf * 2.2) / (tfm.tf + 1.2 * (0.25 + 0.75 * tfm.dl / s.avgdl))
         ) AS raw
  FROM tfm JOIN dfm USING (term) CROSS JOIN stats s
  GROUP BY tfm.doc_id, tfm.conv_id
),
cs AS (SELECT DISTINCT doc_id FROM tokall WHERE term = 'fast')
SELECT m.doc_id, m.conv_id, round(m.raw, 6) AS score,
       round(m.raw + CASE WHEN c.doc_id IS NULL THEN 0.0 ELSE 2.0 END, 6)
         AS boosted
FROM main m LEFT JOIN cs c USING (doc_id)
ORDER BY m.raw + CASE WHEN c.doc_id IS NULL THEN 0.0 ELSE 2.0 END DESC,
         m.doc_id ASC
LIMIT 10
""",
        # coverage curve: exact BIGINT cumulative sums, one float
        # divide per row, ties term ASC on both engines.
        "vocab_coverage": """
WITH docs AS (
  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents
),
tok AS (SELECT unnest(toks) AS term FROM docs),
cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY term),
tot AS (SELECT CAST(sum(cf) AS DOUBLE) AS total FROM cf),
ranked AS (
  SELECT term, cf,
         CAST(row_number() OVER (ORDER BY cf DESC, term ASC) AS INT) AS rank,
         CAST(sum(cf) OVER (
           ORDER BY cf DESC, term ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM cf
)
SELECT rank, term, cf, round(CAST(cum AS DOUBLE) / t.total, 6) AS coverage
FROM ranked CROSS JOIN tot t
WHERE rank <= 50 ORDER BY rank
""",
        # dismax tie=0.3: each role is its OWN scorer (per-field df/idf
        # and length norms); per term max + tie*(sum-max), summed.
        "dismax_tie_topk": f"""
WITH {_CTE},
tk AS (
  SELECT conv_id, role,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM transcripts WHERE role IN ('assistant', 'user')
),
dlf AS (SELECT conv_id, role, count(*) AS dl_f FROM tk GROUP BY conv_id, role),
av AS (SELECT role, avg(dl_f) AS avgdl_f FROM dlf GROUP BY role),
nd AS (SELECT count(DISTINCT conv_id) AS n_docs FROM transcripts),
tf AS (SELECT conv_id, role, term, count(*) AS tf FROM tk
       WHERE term IN {FLAGSHIP_TERMS!r} GROUP BY conv_id, role, term),
dff AS (SELECT role, term, count(*) AS df FROM tf GROUP BY role, term),
idff AS (SELECT role, term,
                ln(1 + (nd.n_docs - df + 0.5) / (df + 0.5)) AS idf
         FROM dff CROSS JOIN nd),
cl AS (
  SELECT tf.conv_id, tf.term,
         (CASE tf.role WHEN 'assistant' THEN 2.0 ELSE 1.0 END)
         * idff.idf * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (0.25 + 0.75 * dlf.dl_f / av.avgdl_f)) AS s
  FROM tf JOIN dlf USING (conv_id, role) JOIN av USING (role)
       JOIN idff USING (role, term)
),
dm AS (SELECT conv_id, term, max(s) + 0.3 * (sum(s) - max(s)) AS dm
       FROM cl GROUP BY conv_id, term),
sc AS (SELECT conv_id, round(sum(dm), 6) AS score FROM dm GROUP BY conv_id)
SELECT conv_id, score FROM sc ORDER BY score DESC, conv_id ASC LIMIT 10
""",
        # pf2: the pf machinery once per ADJACENT bigram of the
        # flagship query; a doc hit by both bigrams sums two clause
        # scores (two-value float add: order-exact on any engine).
        "pf2_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokp AS (
  SELECT doc_id, conv_id, dl, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM ids
),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tokp WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokp
          WHERE term IN {FLAGSHIP_TERMS!r} GROUP BY term),
base AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
idf AS (SELECT term, ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM dfreq CROSS JOIN stats s),
b0a0 AS (SELECT doc_id, pos AS anchor FROM tokp WHERE term = '{FLAGSHIP_TERMS[0]}'),
b0a1 AS (SELECT doc_id, pos - 1 AS anchor FROM tokp WHERE term = '{FLAGSHIP_TERMS[1]}'),
ph0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ptf
        FROM b0a0 JOIN b0a1 USING (doc_id, anchor) GROUP BY doc_id),
b1a0 AS (SELECT doc_id, pos AS anchor FROM tokp WHERE term = '{FLAGSHIP_TERMS[1]}'),
b1a1 AS (SELECT doc_id, pos - 1 AS anchor FROM tokp WHERE term = '{FLAGSHIP_TERMS[2]}'),
ph1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ptf
        FROM b1a0 JOIN b1a1 USING (doc_id, anchor) GROUP BY doc_id),
si0 AS (SELECT sum(idf) AS s FROM idf
        WHERE term IN ('{FLAGSHIP_TERMS[0]}', '{FLAGSHIP_TERMS[1]}')),
si1 AS (SELECT sum(idf) AS s FROM idf
        WHERE term IN ('{FLAGSHIP_TERMS[1]}', '{FLAGSHIP_TERMS[2]}')),
p0 AS (SELECT ph0.doc_id,
              si0.s * (ph0.ptf * 2.2)
              / (ph0.ptf + 1.2 * (0.25 + 0.75 * ids.dl / st.avgdl)) AS p
       FROM ph0 JOIN ids USING (doc_id) CROSS JOIN stats st CROSS JOIN si0),
p1 AS (SELECT ph1.doc_id,
              si1.s * (ph1.ptf * 2.2)
              / (ph1.ptf + 1.2 * (0.25 + 0.75 * ids.dl / st.avgdl)) AS p
       FROM ph1 JOIN ids USING (doc_id) CROSS JOIN stats st CROSS JOIN si1),
pall AS (SELECT doc_id, sum(p) AS p2
         FROM (SELECT * FROM p0 UNION ALL SELECT * FROM p1) GROUP BY doc_id),
fin AS (
  SELECT b.doc_id, b.conv_id, b.raw + 0.5 * coalesce(pall.p2, 0) AS sc
  FROM base b LEFT JOIN pall USING (doc_id)
)
SELECT doc_id, conv_id, round(sc, 6) AS score
FROM fin ORDER BY sc DESC, doc_id ASC
LIMIT 10
""",
        # C4 line rules: list_filter lambda == Spark's F.filter lambda;
        # \\S+ word count and rtrim-then-terminal-punct on both sides.
        "c4_rules": r"""
WITH l AS (
  SELECT doc_id, source, text, string_split(text, chr(10)) AS ls
  FROM documents
),
k AS (
  SELECT source,
         CAST(len(ls) AS BIGINT) AS nl,
         CAST(len(list_filter(ls,
           x -> regexp_matches(rtrim(x), '[.!?"]$')
                AND len(regexp_extract_all(trim(x), '\S+')) >= 5
                AND NOT contains(lower(x), 'javascript'))) AS BIGINT) AS nk,
         contains(lower(text), 'lorem ipsum') AS f_lorem,
         contains(text, '{') AS f_brace
  FROM l
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN nk >= 3 AND NOT f_lorem AND NOT f_brace
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN nk < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_few_lines,
       CAST(sum(CASE WHEN f_lorem THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_lorem,
       CAST(sum(CASE WHEN f_brace THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fail_brace,
       round(CAST(sum(nk) AS DOUBLE) / CAST(sum(nl) AS DOUBLE), 6)
         AS kept_line_frac
FROM k GROUP BY source ORDER BY source
""",
        # chunking: generate_series stop is inclusive == F.sequence;
        # DuckDB list slice clips at the list end like F.slice.
        "chunk_overlap": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
st AS (
  SELECT doc_id, toks, n, CAST(u.x AS INT) AS tok_start,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY u.x) - 1
              AS INT) AS chunk_idx
  FROM nz, UNNEST(generate_series(0, CAST(((n - 1) // 48) * 48 AS BIGINT),
                                   48)) u(x)
)
SELECT doc_id, chunk_idx, tok_start,
       CAST(len(toks[tok_start + 1 : tok_start + 64]) AS INT) AS n_tokens,
       array_to_string(toks[tok_start + 1 : tok_start + 64], ' ')
         AS chunk_text
FROM st ORDER BY doc_id, chunk_idx
""",
        # classifier: exact BIGINT dot (order-free), one float divide
        # + sigmoid per doc; weights replay from md5('qw:'||bucket).
        "quality_classifier": """
WITH w AS (
  SELECT CAST(x AS BIGINT) AS bucket,
         ('0x' || substr(md5('qw:' || CAST(x AS VARCHAR)), 1, 15))::BIGINT
           % 2000001 - 1000000 AS w_int
  FROM generate_series(0, 4095) s(x)
),
t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
f AS (SELECT doc_id, unnest(toks) AS f FROM t),
fb AS (SELECT doc_id,
              ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket
       FROM f),
agg AS (SELECT fb.doc_id, CAST(sum(w.w_int) AS BIGINT) AS dot_int,
               CAST(count(*) AS BIGINT) AS n_feats
        FROM fb JOIN w USING (bucket) GROUP BY fb.doc_id),
z AS (
  SELECT d.doc_id,
         CAST(coalesce(a.n_feats, 0) AS BIGINT) AS n_feats,
         CAST(coalesce(
           (CASE WHEN a.dot_int < 0 THEN -1 ELSE 1 END)
           * ((2 * abs(a.dot_int) + a.n_feats) // (2 * a.n_feats)),
           0) AS BIGINT) AS logit_ppm
  FROM documents d LEFT JOIN agg a USING (doc_id)
)
SELECT doc_id, n_feats, logit_ppm,
       round(1.0 / (1.0 + exp(-(logit_ppm / 1000000.0))), 6) AS prob
FROM z ORDER BY doc_id
""",
        # alpha-blend hybrid: min-max normalize each leg INSIDE its
        # top-50 window, 0.6*lex + 0.4*vec; missing leg contributes 0.
        "hybrid_blend_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.conv_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.conv_id
),
lexw AS (
  SELECT conv_id, raw,
         row_number() OVER (ORDER BY raw DESC, doc_id ASC) AS rn
  FROM scored
),
lex AS (SELECT conv_id, raw FROM lexw WHERE rn <= 50),
lb AS (SELECT min(raw) AS lo, max(raw) AS hi FROM lex),
nlex AS (
  SELECT conv_id,
         CASE WHEN lb.hi > lb.lo THEN (raw - lb.lo) / (lb.hi - lb.lo)
              ELSE 1.0 END AS norm_lex
  FROM lex CROSS JOIN lb
),
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
sim AS (SELECT vec_id AS id,
               list_cosine_similarity(list_transform(embedding, x -> x::DOUBLE),
                                      q.qv) AS c
        FROM embeddings CROSS JOIN q),
vecw AS (
  SELECT id, c, row_number() OVER (ORDER BY c DESC, id ASC) AS rn
  FROM sim
),
vec AS (SELECT 'c' || lpad(CAST(id AS VARCHAR), 8, '0') AS conv_id, c
        FROM vecw WHERE rn <= 50),
vb AS (SELECT min(c) AS lo, max(c) AS hi FROM vec),
nvec AS (
  SELECT conv_id,
         CASE WHEN vb.hi > vb.lo THEN (c - vb.lo) / (vb.hi - vb.lo)
              ELSE 1.0 END AS norm_vec
  FROM vec CROSS JOIN vb
),
fused AS (
  SELECT coalesce(nlex.conv_id, nvec.conv_id) AS conv_id,
         round(0.6 * coalesce(norm_lex, 0) + 0.4 * coalesce(norm_vec, 0), 6)
           AS blend_score,
         round(coalesce(norm_lex, 0), 6) AS norm_lex,
         round(coalesce(norm_vec, 0), 6) AS norm_vec
  FROM nlex FULL OUTER JOIN nvec ON nlex.conv_id = nvec.conv_id
)
SELECT ids.doc_id, fused.conv_id, blend_score, norm_lex, norm_vec
FROM fused LEFT JOIN ids ON fused.conv_id = ids.conv_id
ORDER BY blend_score DESC, fused.conv_id ASC
LIMIT 10
""",
        # stop+stem analysis chain: Lucene default English stop set,
        # Harman S-stemmer as the same ordered CASE on both engines;
        # query "the spark windows merges" analyzes to
        # (merge, spark, window); dl counts POST-filter tokens.
        "stopstem_topk": f"""
WITH {_CTE},
tk AS (
  SELECT conv_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS raw
  FROM transcripts
),
an AS (
  SELECT conv_id,
         {S_STEM_SQL_CASE.format(t="raw")} AS term
  FROM tk WHERE raw NOT IN {STOPWORDS_EN!r}
),
dl AS (SELECT conv_id, count(*) AS dl FROM an GROUP BY conv_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT conv_id, term, count(*) AS tf FROM an
       WHERE term IN ('merge', 'spark', 'window') GROUP BY conv_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
        FROM dft CROSS JOIN stats s),
sc AS (
  SELECT tf.conv_id,
         round(sum(
           idf.idf * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
         ), 6) AS score
  FROM tf JOIN dl USING (conv_id) JOIN idf USING (term) CROSS JOIN stats s
  GROUP BY tf.conv_id
)
SELECT conv_id, score FROM sc ORDER BY score DESC, conv_id ASC LIMIT 10
""",
        # tool transitions: lag over the tool-bearing subsequence per
        # conv (non-tool turns transparent), START pseudo-state.
        "tool_transitions": f"""
WITH {_CTE},
seq AS (
  SELECT conv_id, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS prev
  FROM transcripts WHERE tool IS NOT NULL
)
SELECT coalesce(prev, 'START') AS src_tool, tool AS dst_tool,
       CAST(count(*) AS BIGINT) AS n
FROM seq GROUP BY 1, 2
ORDER BY n DESC, src_tool ASC, dst_tool ASC
""",
        # conv lint: one windowed pass per conv under the stable
        # (turn_idx, ts) turn order, then a conv-keyed aggregate.
        "conv_lint": f"""
WITH {_CTE},
t AS (
  SELECT conv_id,
         first_value(role) OVER w_all AS fr,
         last_value(role) OVER w_all AS lr,
         (lag(role) OVER w = role) AS same_adj,
         (trim(text) = '') AS empty_t
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts),
         w_all AS (PARTITION BY conv_id ORDER BY turn_idx, ts
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING)
),
agg AS (
  SELECT conv_id,
         CAST(count(*) AS BIGINT) AS n_turns,
         max(fr) AS fr, max(lr) AS lr,
         CAST(coalesce(sum(CASE WHEN same_adj THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_same_role_adjacent,
         CAST(coalesce(sum(CASE WHEN empty_t THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_empty_turns
  FROM t GROUP BY conv_id
)
SELECT conv_id, n_turns,
       (fr = 'user') AS starts_with_user,
       (lr = 'assistant') AS ends_with_assistant,
       n_same_role_adjacent, n_empty_turns,
       ((fr = 'user') AND (lr = 'assistant')
        AND n_same_role_adjacent = 0 AND n_empty_turns = 0) AS clean
FROM agg ORDER BY conv_id
""",
        # IVF-PQ: ivf assignment replay (md5-rank centroids) scopes the
        # candidate set to the nprobe probed lists; PQ replay (md5-rank
        # codebooks, argmin encode, j-ordered ADC fold) ranks INSIDE
        # that scope; exact cosine rerank of the k*refine winners.
        "ann_ivfpq_topk": """
WITH cent AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cvec,
         CAST(row_number() OVER (ORDER BY md5('17:' || vec_id)) - 1 AS INT)
           AS list_id
  FROM embeddings
  ORDER BY md5('17:' || vec_id) LIMIT 16
),
ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       FROM embeddings),
scored AS (
  SELECT ev.vec_id, c.list_id, list_cosine_similarity(ev.v, c.cvec) AS cs
  FROM ev CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, list_id ASC) AS rn
    FROM scored) t WHERE rn = 1
),
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c.list_id FROM cent c CROSS JOIN q
  ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.list_id ASC LIMIT 4
),
scope AS (SELECT vec_id FROM assign
          WHERE list_id IN (SELECT list_id FROM probe)),
cb AS (
  SELECT CAST(row_number() OVER (ORDER BY md5('23:' || vec_id)) - 1 AS INT)
           AS code, v
  FROM (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings ORDER BY md5('23:' || vec_id) LIMIT 16)
),
sub AS (SELECT CAST(j AS INT) AS j FROM range(4) t(j)),
d AS (
  SELECT ev.vec_id, s.j, cb.code,
         list_sum(list_transform(
           list_zip(ev.v[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM ev JOIN scope USING (vec_id) CROSS JOIN sub s CROSS JOIN cb
),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM d) t WHERE rn = 1
),
dt AS (
  SELECT s.j, cb.code,
         list_sum(list_transform(
           list_zip(q.qv[s.j*16+1 : s.j*16+16], cb.v[s.j*16+1 : s.j*16+16]),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM cb CROSS JOIN sub s CROSS JOIN q
),
ad AS (
  SELECT e.vec_id, list_sum(list(dt.d2 ORDER BY dt.j)) AS adist
  FROM enc e JOIN dt ON dt.j = e.j AND dt.code = e.code
  GROUP BY e.vec_id
),
cand AS (SELECT vec_id FROM ad ORDER BY adist ASC, vec_id ASC LIMIT 40),
s2 AS (SELECT e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cs
       FROM ev e JOIN cand USING (vec_id) CROSS JOIN q)
SELECT id, round(cs, 6) AS cos FROM s2 ORDER BY cs DESC, id ASC LIMIT 10
""",
        # Matryoshka: prefix-dim cosine candidate cut, full-dim exact
        # rerank; list slice == F.slice (1-based, clipped).
        "ann_matryoshka_topk": """
WITH ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
pc AS (
  SELECT ev.vec_id AS id,
         list_cosine_similarity(ev.v[1:16], q.qv[1:16]) AS pcos
  FROM ev CROSS JOIN q
),
cand AS (SELECT id FROM pc ORDER BY pcos DESC, id ASC LIMIT 40),
s2 AS (SELECT e.vec_id AS id, list_cosine_similarity(e.v, q.qv) AS cs
       FROM ev e JOIN cand ON e.vec_id = cand.id CROSS JOIN q)
SELECT id, round(cs, 6) AS cos FROM s2 ORDER BY cs DESC, id ASC LIMIT 10
""",
        # maxP passage retrieval: BM25 stats over the PASSAGE
        # collection (chunk_overlap's 64/48 layout), per-doc best
        # passage by (score desc, chunk_idx asc), top-10 docs.
        "passage_topk": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
st AS (
  SELECT doc_id, toks, n, CAST(u.x AS INT) AS tok_start,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY u.x) - 1
              AS INT) AS chunk_idx
  FROM nz, UNNEST(generate_series(0, CAST(((n - 1) // 48) * 48 AS BIGINT),
                                   48)) u(x)
),
ch AS (SELECT doc_id, chunk_idx, tok_start,
              toks[tok_start + 1 : tok_start + 64] AS ctoks
       FROM st),
chn AS (SELECT doc_id, chunk_idx, tok_start, len(ctoks) AS dl FROM ch),
stats AS (SELECT count(*) AS n_chunks, avg(dl) AS avgdl FROM chn),
tok AS (SELECT doc_id, chunk_idx, tok_start, len(ctoks) AS dl,
               unnest(ctoks) AS term
        FROM ch),
tf AS (SELECT doc_id, chunk_idx, tok_start, dl, term, count(*) AS tf
       FROM tok WHERE term IN ('merge', 'spark', 'window')
       GROUP BY doc_id, chunk_idx, tok_start, dl, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.chunk_idx, tf.tok_start,
         round(sum(
           ln(1 + (s.n_chunks - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ), 6) AS score
  FROM tf JOIN dft USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id, tf.chunk_idx, tf.tok_start
),
best AS (
  SELECT doc_id, chunk_idx, tok_start, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, chunk_idx ASC) AS rn
  FROM scored
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(tok_start AS INT) AS tok_start, score
FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC
LIMIT 10
""",
        # RM3: base bm25 -> top-5 feedback docs -> integer-scaled
        # relevance-model census -> 5 expansion terms (w desc, term
        # asc) -> interpolated weighted rescore; // == Spark div for
        # the positive operands this builds.
        "rm3_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tfq AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM tokall WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
base AS (
  SELECT tfq.doc_id,
         sum(
           ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * (tfq.tf * 2.2)
           / (tfq.tf + 1.2 * (0.25 + 0.75 * tfq.dl / s.avgdl))
         ) AS raw
  FROM tfq JOIN dfq USING (term) CROSS JOIN stats s
  GROUP BY tfq.doc_id
),
fb AS (SELECT doc_id FROM base ORDER BY raw DESC, doc_id ASC LIMIT 5),
ftf AS (
  SELECT t.term, t.dl, CAST(count(*) AS BIGINT) AS tf
  FROM tokall t JOIN fb USING (doc_id)
  WHERE t.term NOT IN {FLAGSHIP_TERMS!r}
  GROUP BY t.doc_id, t.term, t.dl
),
wint AS (
  SELECT term,
         CAST(sum((2 * tf * 1000000 + dl) // (2 * dl)) AS BIGINT) AS w_int
  FROM ftf GROUP BY term
),
exp_t AS (SELECT term, w_int FROM wint
          ORDER BY w_int DESC, term ASC LIMIT 5),
wsum AS (SELECT CAST(sum(w_int) AS DOUBLE) AS s FROM exp_t),
wts AS (
  SELECT term, 0.5 AS w
  FROM (VALUES ('{FLAGSHIP_TERMS[0]}'), ('{FLAGSHIP_TERMS[1]}'),
               ('{FLAGSHIP_TERMS[2]}')) v(term)
  UNION ALL
  SELECT e.term, 0.5 * e.w_int / wsum.s FROM exp_t e CROSS JOIN wsum
),
tf2 AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM tokall WHERE term IN (SELECT term FROM wts)
  GROUP BY doc_id, conv_id, dl, term
),
df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
sc AS (
  SELECT tf2.doc_id, tf2.conv_id,
         sum(
           (ln(1 + (s.n_docs - df2.df + 0.5) / (df2.df + 0.5))
            * ((tf2.tf * 2.2)
               / (tf2.tf + 1.2 * (0.25 + 0.75 * tf2.dl / s.avgdl))))
           * wts.w
         ) AS raw
  FROM tf2 JOIN df2 USING (term) JOIN wts USING (term) CROSS JOIN stats s
  GROUP BY tf2.doc_id, tf2.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score FROM sc
ORDER BY raw DESC, doc_id ASC LIMIT 10
""",
        # LTR feature logging: same starter features as ltr_topk,
        # candidate window by raw BM25, output ordered by the rounded
        # f_bm25 (identical values on both engines) + doc_id.
        "ltr_features": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tfq AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM tokall WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
base AS (
  SELECT tfq.doc_id, tfq.conv_id,
         sum(
           ln(1 + (s.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
           * (tfq.tf * 2.2)
           / (tfq.tf + 1.2 * (0.25 + 0.75 * tfq.dl / s.avgdl))
         ) AS raw,
         CAST(count(*) AS BIGINT) AS n_matched,
         max(tfq.dl) AS dl
  FROM tfq JOIN dfq USING (term) CROSS JOIN stats s
  GROUP BY tfq.doc_id, tfq.conv_id
),
cand AS (SELECT * FROM base ORDER BY raw DESC, doc_id ASC LIMIT 20)
SELECT doc_id, conv_id,
       round(raw, 6) AS f_bm25,
       round(n_matched / 3.0, 6) AS f_match_frac,
       round(dl / s.avgdl, 6) AS f_dl_ratio
FROM cand CROSS JOIN stats s
ORDER BY round(raw, 6) DESC, doc_id ASC
""",
        # source overlap: DISTINCT (source, 3-gram md5) sets, pair
        # join on hash, zero-overlap pairs ride the size spine.
        "source_overlap": f"""
WITH toked AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
posd AS (SELECT doc_id, source, generate_subscripts(toks, 1) AS p, toks
         FROM toked),
shd AS (
  SELECT DISTINCT source,
         md5(toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2]) AS h
  FROM posd WHERE p + 2 <= len(toks)
),
allsrc AS (SELECT DISTINCT source FROM documents),
sizes AS (
  SELECT a.source, CAST(coalesce(c.n_sh, 0) AS BIGINT) AS n_sh
  FROM allsrc a LEFT JOIN
       (SELECT source, count(*) AS n_sh FROM shd GROUP BY source) c
       USING (source)
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM shd a JOIN shd b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
),
spine AS (
  SELECT sa.source AS src_a, sb.source AS src_b,
         sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM sizes sa JOIN sizes sb ON sa.source < sb.source
)
SELECT s.src_a, s.src_b, s.n_a, s.n_b,
       coalesce(sh.n_shared, 0) AS n_shared,
       CASE WHEN s.n_a + s.n_b > coalesce(sh.n_shared, 0)
            THEN round(CAST(coalesce(sh.n_shared, 0) AS DOUBLE)
                 / CAST(s.n_a + s.n_b - coalesce(sh.n_shared, 0) AS DOUBLE),
                 6)
            ELSE 0.0 END AS jaccard
FROM spine s LEFT JOIN shared sh USING (src_a, src_b)
ORDER BY s.src_a, s.src_b
""",
        # LMDirichlet (mu=2000): T is the exact corpus token count;
        # per-term score clamped at 0 (Lucene's contract); sorted fold
        # on the engine side, 6-dp round absorbs the sum-order seam.
        "lmdir_topk": f"""
WITH {_DOCS},
tot AS (SELECT CAST(sum(dl) AS DOUBLE) AS T FROM ids),
tokall AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
cfs AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tokall
        WHERE term IN {FLAGSHIP_TERMS!r} GROUP BY term),
tfm AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM tokall WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
sc AS (
  SELECT tfm.doc_id, tfm.conv_id,
         sum(greatest(0.0,
           ln(1.0 + (CAST(tfm.tf AS DOUBLE) * t.T)
                    / (2000.0 * CAST(cfs.cf AS DOUBLE)))
           + ln(2000.0 / (CAST(tfm.dl AS DOUBLE) + 2000.0))
         )) AS raw
  FROM tfm JOIN cfs USING (term) CROSS JOIN tot t
  GROUP BY tfm.doc_id, tfm.conv_id
)
SELECT doc_id, conv_id, round(raw, 6) AS score FROM sc
ORDER BY raw DESC, doc_id ASC LIMIT 10
""",
        # vector PRF (Rocchio): top-5 feedback by original cosine,
        # q' = q + 0.5*mean, exact cosine against q'.
        "prf_vector_topk": """
WITH ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM embeddings),
q AS (SELECT v AS qv FROM ev WHERE vec_id = 0),
s1 AS (SELECT ev.vec_id AS id, list_cosine_similarity(ev.v, q.qv) AS c
       FROM ev CROSS JOIN q),
fb AS (SELECT id FROM s1 ORDER BY c DESC, id ASC LIMIT 5),
fdim AS (
  SELECT u.d AS d, avg(u.x) AS m
  FROM (SELECT unnest(ev.v) AS x, generate_subscripts(ev.v, 1) AS d
        FROM ev JOIN fb ON ev.vec_id = fb.id) u
  GROUP BY u.d
),
q2 AS (
  SELECT list(1.0 * q.qv[f.d] + 0.5 * f.m ORDER BY f.d) AS q2v
  FROM fdim f CROSS JOIN q
),
s2 AS (SELECT ev.vec_id AS id, list_cosine_similarity(ev.v, q2.q2v) AS cs
       FROM ev CROSS JOIN q2)
SELECT id, round(cs, 6) AS cos FROM s2 ORDER BY cs DESC, id ASC LIMIT 10
""",
        # distinct-n diversity: one tokenize feeds all three orders.
        "text_ngram_diversity": f"""
WITH t AS (SELECT source, {_TOKS} AS toks FROM documents),
p AS (SELECT source, generate_subscripts(toks, 1) AS p, toks FROM t),
u AS (
  SELECT source, 1 AS n, toks[p] AS g FROM p
  UNION ALL
  SELECT source, 2, toks[p] || ' ' || toks[p+1] FROM p WHERE p + 1 <= len(toks)
  UNION ALL
  SELECT source, 3, toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2]
  FROM p WHERE p + 2 <= len(toks)
)
SELECT source, CAST(n AS INT) AS n,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
       round(CAST(count(DISTINCT g) AS DOUBLE) / count(*), 6) AS diversity
FROM u GROUP BY source, n ORDER BY source, n
""",
        # refusal markers: case-insensitive substring ORs, per-conv
        # assistant-turn fractions.
        "refusal_profile": f"""
WITH {_CTE},
a AS (
  SELECT conv_id,
         CASE WHEN lower(text) LIKE '%i cannot%'
               OR lower(text) LIKE '%i can''t%'
               OR lower(text) LIKE '%i''m unable to%'
               OR lower(text) LIKE '%as an ai%'
               OR lower(text) LIKE '%i apologize, but%'
               OR lower(text) LIKE '%i''m sorry, but%'
              THEN 1 ELSE 0 END AS hit
  FROM transcripts WHERE role = 'assistant'
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_assistant_turns,
       CAST(sum(hit) AS BIGINT) AS n_refusal_turns,
       round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS refusal_frac
FROM a GROUP BY conv_id ORDER BY conv_id
""",
        # template turns: md5 of the whitespace-collapsed lowered turn,
        # threshold on distinct convs (Spark regexp_replace is global,
        # DuckDB needs the 'g' flag).
        "template_turns": f"""
WITH {_CTE},
a AS (
  SELECT conv_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           AS text_hash,
         text
  FROM transcripts
  WHERE role = 'assistant' AND trim(text) <> ''
)
SELECT text_hash,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(text) AS sample_text
FROM a GROUP BY text_hash
HAVING count(DISTINCT conv_id) >= 2
ORDER BY n_convs DESC, text_hash ASC
""",
        # payload_score: func=max over the term's position payloads —
        # exact BIGINT scores, so the top-k boundary is pure integer
        # arithmetic on both engines (0-based wpos == token_pos).
        "payload_score_topk": f"""
WITH {_DOCS},
tokp AS (
  SELECT doc_id, conv_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS wpos
  FROM ids
)
SELECT doc_id, conv_id, CAST(max(wpos) AS BIGINT) AS payload
FROM tokp WHERE term = 'spark'
GROUP BY doc_id, conv_id
ORDER BY payload DESC, doc_id ASC
LIMIT 10
""",
        "analysis_chain": _ANALYSIS_CHAIN,
        # MLT interestingTerms=details: tf*idf over the seed doc's
        # vocabulary; raw-order top-k, weight rounded only in output.
        "mlt_interesting_terms": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs FROM ids),
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
tfx AS (SELECT term, CAST(count(*) AS INT) AS tf
        FROM tok WHERE doc_id = {MLT_DOC} GROUP BY term),
dfx AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY term)
SELECT t.term, t.tf, d.df,
       round(t.tf * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6)
         AS weight
FROM tfx t JOIN dfx d USING (term) CROSS JOIN stats s
ORDER BY t.tf * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) DESC,
         t.term ASC
LIMIT 15
""",
        # directional containment: same shingle spine as the Jaccard
        # twin, ordered pairs, integer cross-multiplied threshold.
        "dedup_containment": f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM docs),
sh AS (SELECT DISTINCT doc_id,
              toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_src, b.doc_id AS doc_dst, count(*) AS i
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
SELECT doc_src, doc_dst,
       CAST(floor(i * 1000000 / c.c) AS BIGINT) AS containment_scaled
FROM inter JOIN card c ON doc_src = c.doc_id
WHERE i * 2 >= c.c
""",
        "tokenizer_fertility": _TOKENIZER_FERTILITY,
        # post-filter knn: prefetch cut on the raw cosine, label filter
        # AFTER, re-cut to k — may return < k rows by design.
        "knn_postfilter_topk": """
WITH q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
           FROM embeddings WHERE vec_id = 0),
s AS (SELECT e.vec_id AS id, e.label,
             list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                    q.qv) AS c
      FROM embeddings e CROSS JOIN q),
pre AS (SELECT * FROM s ORDER BY c DESC, id ASC LIMIT 40)
SELECT id, round(c, 6) AS cos FROM pre WHERE label = 2
ORDER BY c DESC, id ASC LIMIT 10
""",
        "code_profile": _CODE_PROFILE,
        "collocations": _COLLOCATIONS,
        # topic(): per-conv version = max ts; membership = any turn
        # containing the term; checkpoint filter + oldest-first cut.
        "stream_topic": f"""
WITH {_CTE},
per_conv AS (
  SELECT conv_id,
         CAST(row_number() OVER (ORDER BY conv_id) - 1 AS BIGINT) AS doc_id,
         max(ts) AS last_ts,
         max(CASE WHEN len(list_filter(
               regexp_extract_all(lower(text), '[a-z0-9]+'),
               t -> t = 'spark')) > 0 THEN 1 ELSE 0 END) AS hit
  FROM transcripts GROUP BY conv_id
)
SELECT doc_id, conv_id, last_ts
FROM per_conv
WHERE hit = 1 AND last_ts > TIMESTAMP '2026-01-01 00:05:00'
ORDER BY last_ts ASC, doc_id ASC
LIMIT 50
""",
        "facet_contains": """
SELECT source AS value, CAST(count(*) AS BIGINT) AS n
FROM documents
WHERE source LIKE '%1%'
GROUP BY source
ORDER BY n DESC, value ASC
LIMIT 10
""",
        # keep-best dedup: the _DUP_CLUSTERS closure + the keeper
        # argmax (score DESC, doc_id ASC) replayed as a window rank.
        "dedup_keep_best": f"""
WITH RECURSIVE
docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM docs),
sh AS (SELECT DISTINCT doc_id,
              toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
prs AS (SELECT doc1, doc2
        FROM inter
        JOIN card c1 ON doc1 = c1.doc_id
        JOIN card c2 ON doc2 = c2.doc_id
        WHERE i::DOUBLE / (c1.c + c2.c - i) >= 0.3),
edges AS (SELECT doc1 AS a, doc2 AS b FROM prs
          UNION ALL SELECT doc2, doc1 FROM prs),
walk(doc_id, n) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.n
),
labs AS (SELECT doc_id, min(n) AS rep_id FROM walk GROUP BY doc_id),
sz AS (SELECT rep_id, CAST(count(*) AS BIGINT) AS cluster_size
       FROM labs GROUP BY rep_id),
scored AS (SELECT l.doc_id, l.rep_id, s.cluster_size,
                  CAST(d.n_chars AS BIGINT) AS score
           FROM labs l JOIN sz s USING (rep_id)
           JOIN documents d USING (doc_id)),
keep AS (SELECT rep_id, doc_id AS keep_id,
                row_number() OVER (PARTITION BY rep_id
                                   ORDER BY score DESC, doc_id ASC) AS rn
         FROM scored)
SELECT sc.doc_id, sc.rep_id, k.keep_id, sc.score, sc.cluster_size,
       CAST(sc.doc_id = k.keep_id AS INT) AS is_kept
FROM scored sc
JOIN (SELECT rep_id, keep_id FROM keep WHERE rn = 1) k USING (rep_id)
""",
        # percolation: each stored conjunctive query spelled as its
        # list_contains AND-chain (q_none's absent term matches 0 docs
        # and so contributes no rows on either engine).
        "percolate": f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT 'q_merge' AS query_id, doc_id FROM docs
WHERE list_contains(toks, 'merge')
UNION ALL
SELECT 'q_spark_window' AS query_id, doc_id FROM docs
WHERE list_contains(toks, 'spark') AND list_contains(toks, 'window')
ORDER BY query_id, doc_id
""",
        "composite_route": """
SELECT doc_id, source AS route_key,
       CAST(floor(('0x' || substr(md5(source), 1, 15))::BIGINT
                  / 1152921504606846976.0 * 8) AS INT) AS shard
FROM documents
""",
        # context-scoped suggester: df recounted within the lang=en
        # doc subset (one row per (term, doc) == postings invariant).
        "suggest_context": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
td AS (SELECT DISTINCT doc_id, term FROM tok),
en AS (SELECT doc_id FROM documents WHERE lang = 'en')
SELECT term, CAST(count(*) AS BIGINT) AS df
FROM td JOIN en USING (doc_id)
WHERE term LIKE 's%'
GROUP BY term
ORDER BY df DESC, term ASC
LIMIT 10
""",
        # vector diagnostics: per-row norm integer-scaled under the
        # SAME sequential left-fold (list sum == F.aggregate order),
        # then exact BIGINT sum / integer-division mean.
        "vector_stats": """
WITH per AS (
  SELECT vec_id,
         len(embedding) AS dim,
         CASE WHEN embedding IS NULL THEN NULL
              ELSE CAST(floor(sqrt(list_aggregate(
                     list_transform(embedding, x -> x::DOUBLE * x::DOUBLE),
                     'sum')) * 1000000) AS BIGINT)
         END AS norm_scaled
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN norm_scaled IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(min(dim) AS INT) AS dim_min,
       CAST(max(dim) AS INT) AS dim_max,
       CAST(sum(CASE WHEN norm_scaled = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       CAST(sum(norm_scaled) AS BIGINT) AS sum_norm_scaled,
       CAST(sum(norm_scaled) // count(norm_scaled) AS BIGINT)
         AS avg_norm_scaled
FROM per
""",
        # recall@10 of the stored multi-probe LSH answer vs the exact
        # scan — both legs are the already-green oracles composed.
        "ann_recall": _lsh_buckets_cte(8) + """,
qb AS (SELECT band, bucket AS qbucket FROM buckets WHERE vec_id = 0),
cand AS (SELECT DISTINCT b.vec_id AS id FROM buckets b JOIN qb USING (band)
         WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 1),
q AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings WHERE vec_id = 0),
sap AS (
  SELECT c.id,
         list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                q.qv) AS cs
  FROM cand c JOIN embeddings e ON e.vec_id = c.id CROSS JOIN q
),
appr AS (SELECT id FROM sap ORDER BY cs DESC, id ASC LIMIT 10),
sex AS (
  SELECT e.vec_id AS id,
         list_cosine_similarity(list_transform(e.embedding, x -> x::DOUBLE),
                                q.qv) AS cs
  FROM embeddings e CROSS JOIN q
),
exact AS (SELECT id FROM sex ORDER BY cs DESC, id ASC LIMIT 10)
SELECT CAST(10 AS INT) AS k,
       CAST(count(*) AS BIGINT) AS n_hit,
       CAST(floor(count(*) * 1000000 / 10) AS BIGINT) AS recall_scaled
FROM exact JOIN appr USING (id)
""",
        # smoothed odds-ratio drift: exact BIGINT products + integer
        # division, identical rational on both engines.
        "term_drift": """
WITH tok AS (
  SELECT source AS src, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
           AS term
  FROM documents WHERE source IN ('src0', 'src1')
),
counts AS (
  SELECT term,
         CAST(sum(CASE WHEN src = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         CAST(sum(CASE WHEN src = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM tok GROUP BY term
),
tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b,
               CAST(count(*) AS BIGINT) AS v
        FROM counts)
SELECT term, c_a, c_b,
       CAST(((c_a + 1) * (t.n_b + t.v) * 1000000) // ((c_b + 1) * (t.n_a + t.v))
            AS BIGINT) AS drift_scaled
FROM counts CROSS JOIN tot t
ORDER BY drift_scaled DESC, term ASC
LIMIT 15
""",
        # unordered span near: the _PROX_TOPK spine with the window
        # condition symmetric (0 < |p1-p0| <= slop+1).
        "span_near_topk": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tokp AS (
  SELECT doc_id, conv_id, dl, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM ids
),
p0 AS (SELECT doc_id, pos FROM tokp WHERE term = '{_PHRASE_T[0]}'),
p1 AS (SELECT doc_id, pos FROM tokp WHERE term = '{_PHRASE_T[1]}'),
spanm AS (
  SELECT p0.doc_id, CAST(count(DISTINCT p0.pos) AS BIGINT) AS span_tf
  FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id
       AND p1.pos <> p0.pos AND abs(p1.pos - p0.pos) <= 1 + 2
  GROUP BY p0.doc_id
),
dfs AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tokp
  WHERE term IN {_PHRASE_T!r} GROUP BY term
),
sidf AS (
  SELECT sum(ln(1 + (s.n_docs - df + 0.5) / (df + 0.5))) AS sum_idf
  FROM dfs CROSS JOIN stats s
)
SELECT ids.doc_id, ids.conv_id,
       round(
         si.sum_idf
         * (spanm.span_tf * 2.2)
         / (spanm.span_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)),
         6
       ) AS score
FROM spanm
JOIN ids USING (doc_id)
CROSS JOIN stats s CROSS JOIN sidf si
ORDER BY si.sum_idf * (spanm.span_tf * 2.2)
         / (spanm.span_tf + 1.2 * (0.25 + 0.75 * ids.dl / s.avgdl)) DESC,
         ids.doc_id ASC
LIMIT 10
""",
        # clustering component: flagship top-20 page, per-doc argmax
        # tf*idf label (w DESC, term ASC), clusters >= 2 docs, NULL =
        # Other Topics.
        "result_clusters": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tfq AS (
  SELECT doc_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT tfq.doc_id,
         sum(ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tfq.tf * 2.2)
             / (tfq.tf + 1.2 * (0.25 + 0.75 * tfq.dl / s.avgdl))) AS raw
  FROM tfq JOIN dfreq USING (term) CROSS JOIN stats s
  GROUP BY tfq.doc_id
),
page AS (SELECT doc_id FROM scored ORDER BY raw DESC, doc_id ASC LIMIT 20),
alltf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf
  FROM tok JOIN page USING (doc_id) GROUP BY doc_id, term
),
alldf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
w AS (
  SELECT a.doc_id, a.term,
         a.tf * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) AS w
  FROM alltf a JOIN alldf d USING (term) CROSS JOIN stats s
),
lab AS (
  SELECT doc_id, term AS label FROM (
    SELECT doc_id, term,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY w DESC, term ASC) AS rn
    FROM w)
  WHERE rn = 1
),
sz AS (SELECT label, count(*) AS n FROM lab GROUP BY label)
SELECT CASE WHEN sz.n >= 2 THEN lab.label END AS label, lab.doc_id
FROM lab JOIN sz USING (label)
ORDER BY label ASC NULLS LAST, doc_id ASC
""",
        # JSON payload extraction: identical path semantics via
        # json_extract_string; NULL-skipping aggregates on both sides.
        "json_props_stats": """
WITH per AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(min(k) AS BIGINT) AS k_min,
       CAST(max(k) AS BIGINT) AS k_max,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(CASE WHEN count(k) > 0
                 THEN (sum(k) * 1000000) // count(k) ELSE 0 END AS BIGINT)
         AS k_avg_scaled
FROM per GROUP BY event_type ORDER BY event_type
""",
        # shard-local df vs global df for the flagship terms; df is a
        # plain per-(term, shard) count of distinct docs (one posting
        # row per (term, doc) invariant); integer-scaled skew.
        "shard_skew": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
td AS (SELECT DISTINCT doc_id, term FROM tok
       WHERE term IN {FLAGSHIP_TERMS!r}),
sh AS (SELECT term, CAST(doc_id % 8 AS INT) AS shard,
              CAST(count(*) AS BIGINT) AS df_shard
       FROM td GROUP BY 1, 2),
g AS (SELECT term, CAST(count(*) AS BIGINT) AS df_global
      FROM td GROUP BY term)
SELECT sh.term, sh.shard, sh.df_shard, g.df_global,
       CAST(floor(sh.df_shard * 1000000 * 8 / g.df_global) AS BIGINT)
         AS skew_scaled
FROM sh JOIN g USING (term)
ORDER BY sh.term, sh.shard
""",
        # per-source exact-dupe rates: corpus-wide content groups,
        # non-canonical members charged to their holding source.
        "dup_rate_by_source": """
WITH h AS (SELECT doc_id, source, md5(text) AS text_hash FROM documents),
g AS (SELECT text_hash, min(doc_id) AS canonical_id
      FROM h GROUP BY text_hash),
f AS (SELECT h.source,
             CASE WHEN h.doc_id <> g.canonical_id THEN 1 ELSE 0 END AS d
      FROM h JOIN g USING (text_hash))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d) AS BIGINT) AS n_dupes,
       CAST(floor(sum(d) * 1000000 / count(*)) AS BIGINT)
         AS dup_rate_scaled
FROM f GROUP BY source ORDER BY source
""",
        # facet.mincount + excludeTerms: exclusion before counting,
        # mincount after counting, before sort/paging.
        "facet_mincount": """
SELECT lang AS value, CAST(count(*) AS BIGINT) AS n
FROM documents
WHERE lang IS NOT NULL AND lang <> 'en'
GROUP BY lang
HAVING count(*) >= 70
ORDER BY n DESC, value ASC
""",
        # onlyMorePopular: df strictly above the query word's own df.
        "spellcheck_popular": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
own AS (SELECT coalesce(max(df), 0) AS own_df FROM dict WHERE term = 'fast')
SELECT term,
       CAST(levenshtein(term, 'fast') AS INT) AS dist,
       CAST(df AS BIGINT) AS df
FROM dict CROSS JOIN own
WHERE abs(length(term) - 4) <= 2 AND levenshtein(term, 'fast') <= 2
  AND df > own_df
ORDER BY dist ASC, df DESC, term ASC
LIMIT 5
""",
        # Zipf spectrum: |vocab|-row aggregate, power-of-two buckets
        # via exact integer bit length (length(bin(cf))).
        "freq_spectrum": f"""
WITH {_DOCS},
tok AS (SELECT unnest(toks) AS term FROM ids),
cfs AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY term)
SELECT CAST(length(bin(cf)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(cf) AS BIGINT) AS token_mass
FROM cfs GROUP BY 1 ORDER BY bucket
""",
        # Zipf OLS: same cf spine, deterministic (cf DESC, term ASC)
        # rank, closed-form slope/r2 from five sums.
        "zipf_fit": f"""
WITH {_DOCS},
tok AS (SELECT unnest(toks) AS term FROM ids),
cfs AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tok GROUP BY term),
rk AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY cf DESC, term ASC)
               AS DOUBLE)) AS x,
         ln(CAST(cf AS DOUBLE)) AS y
  FROM cfs
  QUALIFY row_number() OVER (ORDER BY cf DESC, term ASC) <= 5000
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM rk
)
SELECT n AS n_terms,
       round(-( (sxy - sx * sy / n) / (sxx - sx * sx / n) ), 6)
         AS alpha,
       round((sxy - sx * sy / n) * (sxy - sx * sy / n)
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2,
       round(sy / n - ((sxy - sx * sy / n) / (sxx - sx * sx / n))
             * sx / n, 6) AS ln_cf_at_rank1
FROM s
""",
        # two-turn template exchanges: lead() + the template_turns
        # normalization applied to first || '|' || second.
        "template_exchanges": f"""
WITH {{_CTE}},
t AS (
  SELECT conv_id, turn_idx, text,
         lead(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM transcripts
),
p AS (
  SELECT conv_id, text,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) || '|' ||
             lower(trim(regexp_replace(nxt, '\\s+', ' ', 'g')))) AS ex_hash
  FROM t
  WHERE nxt IS NOT NULL AND trim(text) <> '' AND trim(nxt) <> ''
)
SELECT ex_hash,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(text) AS sample_first
FROM p GROUP BY ex_hash
HAVING count(DISTINCT conv_id) >= 2
ORDER BY n_convs DESC, ex_hash ASC
""".replace("{_CTE}", _CTE),
        # CCNet-normalized exact dedup: identical regexp chain.
        "dedup_normalized": """
WITH h AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(regexp_replace(
             lower(text), '[0-9]+', '0', 'g'),
             '[^a-z0 ]', ' ', 'g'),
             ' +', ' ', 'g'))) AS norm_hash
  FROM documents
),
g AS (SELECT norm_hash, CAST(count(*) AS BIGINT) AS group_size,
             min(doc_id) AS canonical_id
      FROM h GROUP BY norm_hash)
SELECT h.doc_id, h.norm_hash, g.group_size,
       CAST(h.doc_id = g.canonical_id AS INT) AS is_canonical
FROM h JOIN g USING (norm_hash)
""",
        # snapshot diff: same deterministic mutation, statuses counted.
        "corpus_diff": """
WITH oldd AS (SELECT doc_id, text FROM documents),
newd AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 7 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
),
j AS (
  SELECT o.doc_id AS o_id, n.doc_id AS n_id,
         o.text AS o_text, n.text AS n_text
  FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs
FROM (
  SELECT CASE WHEN o_id IS NULL THEN 'added'
              WHEN n_id IS NULL THEN 'removed'
              WHEN o_text <> n_text THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM j
)
GROUP BY status ORDER BY status
""",
        "role_stats": f"""
WITH {_CTE},
per AS (
  SELECT role, conv_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
           AS n_toks
  FROM transcripts
)
SELECT role,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST((sum(n_toks) * 1000000) // count(*) AS BIGINT) AS avg_tokens_scaled
FROM per GROUP BY role ORDER BY role
""",
        "length_buckets": """
WITH per AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(ntile(8) OVER (ORDER BY n_tokens ASC, doc_id ASC) AS INT)
         AS bucket
FROM per
""",
        # BPE round-one merges: pair counts over DISTINCT words
        # weighted by word frequency.
        "bpe_merges": """
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        FROM documents)
  GROUP BY w
),
ch AS (SELECT wc, regexp_extract_all(w, '.') AS cs FROM wf),
pr AS (SELECT wc, cs[p] AS c1, cs[p+1] AS c2
       FROM (SELECT wc, generate_subscripts(cs, 1) AS p, cs FROM ch)
       WHERE p + 1 <= len(cs))
SELECT c1, c2, CAST(sum(wc) AS BIGINT) AS n
FROM pr GROUP BY c1, c2
ORDER BY n DESC, c1 ASC, c2 ASC
LIMIT 20
""",
        # trec_eval analog: batched BM25 page graded against
        # conjunctive-match qrels; all metrics ppm integers via //
        # (Spark div == DuckDB //), so floats never enter the hash.
        "rank_eval": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qs(query_id, term) AS (VALUES
  ('q1', 'spark'), ('q1', 'window'), ('q1', 'merge'),
  ('q2', 'spark'), ('q3', 'window'), ('q3', 'merge')),
qn AS (SELECT query_id, count(*) AS n_terms FROM qs GROUP BY query_id),
scored AS (
  SELECT qs.query_id, tf.doc_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) JOIN qs USING (term) CROSS JOIN stats s
  GROUP BY qs.query_id, tf.doc_id
),
page AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY raw DESC, doc_id ASC) AS INT)
             AS rank
    FROM scored
  ) WHERE rank <= 5
),
dt AS (SELECT DISTINCT doc_id, term FROM tok
       WHERE term IN {FLAGSHIP_TERMS!r}),
qrels AS (
  SELECT q.query_id, dt.doc_id
  FROM dt JOIN qs q USING (term) JOIN qn USING (query_id)
  GROUP BY q.query_id, dt.doc_id, qn.n_terms
  HAVING count(*) = qn.n_terms
),
nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
         FROM qrels GROUP BY query_id),
h AS (
  SELECT p.query_id, p.rank,
         CASE WHEN qr.doc_id IS NULL THEN 0 ELSE 1 END AS is_rel
  FROM page p LEFT JOIN qrels qr
    ON qr.query_id = p.query_id AND qr.doc_id = p.doc_id
),
c AS (SELECT query_id, rank, is_rel,
             CAST(sum(is_rel) OVER (PARTITION BY query_id
                                    ORDER BY rank) AS BIGINT) AS c_i
      FROM h),
per AS (
  SELECT query_id,
         CAST(sum(is_rel) AS BIGINT) AS n_rel_ret,
         min(CASE WHEN is_rel = 1 THEN rank END) AS frr,
         CAST(sum(CASE WHEN is_rel = 1 THEN (1000000 * c_i) // rank
                       ELSE 0 END) AS BIGINT) AS ap_num
  FROM c GROUP BY query_id
)
SELECT per.query_id,
       CAST(coalesce(nrel.n_rel, 0) AS BIGINT) AS n_rel,
       per.n_rel_ret,
       CAST(coalesce(per.frr, 0) AS INT) AS first_rel_rank,
       CAST(CASE WHEN per.frr IS NULL THEN 0
                 ELSE 1000000 // per.frr END AS BIGINT) AS rr_scaled,
       CAST((1000000 * per.n_rel_ret) // 5 AS BIGINT) AS p_at_k_scaled,
       CAST(CASE WHEN coalesce(nrel.n_rel, 0) = 0 THEN 0
                 ELSE per.ap_num // least(nrel.n_rel, 5) END AS BIGINT)
         AS ap_scaled
FROM per LEFT JOIN nrel USING (query_id)
ORDER BY per.query_id
""",
        # /admin/segments: per doc-id-range shard accounting
        # (shard = doc_id // 128, the lifecycle store layout rule).
        "segments_report": f"""
WITH {_CTE},
{_DOCS.strip().lstrip()}
, nt AS (
  SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
  FROM transcripts WHERE length(trim(text)) > 0 GROUP BY conv_id
),
base AS (
  SELECT ids.doc_id, ids.toks, nt.n_turns,
         CAST(ids.doc_id // 128 AS INT) AS shard
  FROM ids JOIN nt USING (conv_id)
),
dm AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(min(doc_id) AS BIGINT) AS min_doc_id,
         CAST(max(doc_id) AS BIGINT) AS max_doc_id,
         CAST(sum(n_turns) AS BIGINT) AS n_turns
  FROM base GROUP BY shard
),
tokk AS (SELECT shard, doc_id, unnest(toks) AS term FROM base),
tfp AS (SELECT shard, doc_id, term, count(*) AS tf
        FROM tokk GROUP BY shard, doc_id, term),
pg AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_postings,
              CAST(count(DISTINCT term) AS BIGINT) AS n_terms,
              CAST(sum(tf) AS BIGINT) AS n_tokens
       FROM tfp GROUP BY shard)
SELECT dm.shard, dm.n_docs, dm.min_doc_id, dm.max_doc_id,
       CAST(coalesce(pg.n_postings, 0) AS BIGINT) AS n_postings,
       CAST(coalesce(pg.n_terms, 0) AS BIGINT) AS n_terms,
       CAST(coalesce(pg.n_tokens, 0) AS BIGINT) AS n_tokens,
       dm.n_turns
FROM dm LEFT JOIN pg USING (shard)
ORDER BY dm.shard
""",
        # deterministic training-order shuffle: md5 permutation +
        # contiguous balanced shards, both engines spell the same
        # integer division.
        "training_order": """
WITH ord AS (
  SELECT doc_id,
         CAST(row_number() OVER (
           ORDER BY md5('seed0:' || CAST(doc_id AS VARCHAR)), doc_id
         ) - 1 AS BIGINT) AS position
  FROM documents
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ord)
SELECT o.doc_id, o.position,
       CAST((8 * o.position) // t.n AS INT) AS shard
FROM ord o CROSS JOIN t
ORDER BY o.position
""",
        # nodes(): one hop over the deterministic edge relation from
        # the doc_id 0..4 root set, gathered dst with in-walk counts.
        "stream_nodes": """
WITH nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS src FROM documents),
edges AS (
  SELECT src,
         CAST((src * 31 + j * 7 + 1) % (SELECT n FROM nn) AS BIGINT) AS dst
  FROM nodes CROSS JOIN (SELECT unnest([0, 1]) AS j)
  WHERE (src * 31 + j * 7 + 1) % (SELECT n FROM nn) <> src
),
roots AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS r FROM documents
          WHERE doc_id BETWEEN 0 AND 4)
SELECT e.dst AS node, CAST(1 AS INT) AS level,
       CAST(count(*) AS BIGINT) AS count
FROM edges e JOIN roots ON e.src = roots.r
GROUP BY e.dst ORDER BY node
""",
        # facet.range.include=all: closed buckets (boundary values
        # double-count), outer gives before/after their boundary.
        # start=150 end=1100 gap=250 -> nb=4, end_eff=1150.
        "range_facet_include": """
WITH v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents)
SELECT 0 AS ord, '150' AS bucket,
       CAST(count(CASE WHEN v BETWEEN 150 AND 400 THEN 1 END) AS BIGINT)
         AS n_docs FROM v
UNION ALL SELECT 1, '400',
       CAST(count(CASE WHEN v BETWEEN 400 AND 650 THEN 1 END) AS BIGINT) FROM v
UNION ALL SELECT 2, '650',
       CAST(count(CASE WHEN v BETWEEN 650 AND 900 THEN 1 END) AS BIGINT) FROM v
UNION ALL SELECT 3, '900',
       CAST(count(CASE WHEN v BETWEEN 900 AND 1150 THEN 1 END) AS BIGINT) FROM v
UNION ALL SELECT 4, 'before',
       CAST(count(CASE WHEN v <= 150 THEN 1 END) AS BIGINT) FROM v
UNION ALL SELECT 5, 'between',
       CAST(count(CASE WHEN v BETWEEN 150 AND 1150 THEN 1 END) AS BIGINT) FROM v
UNION ALL SELECT 6, 'after',
       CAST(count(CASE WHEN v >= 1150 THEN 1 END) AS BIGINT) FROM v
ORDER BY ord
""",
        # terms.prefix: literal prefix + mincount over the dictionary.
        "terms_prefix": f"""
WITH {_DOCS},
tok AS (SELECT doc_id, unnest(toks) AS term FROM ids),
dict AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
                CAST(count(*) AS BIGINT) AS cf
         FROM tok GROUP BY term)
SELECT term, df, cf FROM dict
WHERE term LIKE 's%' AND df >= 2
ORDER BY df DESC, term ASC LIMIT 10
""",
        # shortestPath(): bounded recursive BFS to min depths, best
        # parent = min src one layer up, recursive backtrack from the
        # 3-hop j=0 target; step 0 row appended when reachable.
        "stream_shortest_path": """
WITH RECURSIVE
nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS src FROM documents),
edges AS (
  SELECT src,
         CAST((src * 31 + j * 7 + 1) % (SELECT n FROM nn) AS BIGINT) AS dst
  FROM nodes CROSS JOIN (SELECT unnest([0, 1]) AS j)
  WHERE (src * 31 + j * 7 + 1) % (SELECT n FROM nn) <> src
),
tgt AS (
  SELECT CAST((31 * ((31 * (1 % n) + 1) % n) + 1) % n AS BIGINT) AS t
  FROM nn
),
bfs(node, depth) AS (
  SELECT CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, b.depth + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.depth < 6
),
dist AS (SELECT node, min(depth) AS d FROM bfs GROUP BY node),
bp AS (
  SELECT dn.node, min(e.src) AS parent, dn.d
  FROM dist dn
  JOIN edges e ON e.dst = dn.node
  JOIN dist ds ON ds.node = e.src AND ds.d = dn.d - 1
  WHERE dn.d > 0
  GROUP BY dn.node, dn.d
),
chain(node, parent, step) AS (
  SELECT b.node, b.parent, b.d FROM bp b, tgt WHERE b.node = tgt.t
  UNION
  SELECT b.node, b.parent, b.d FROM bp b JOIN chain c ON b.node = c.parent
)
SELECT CAST(step AS INT) AS step, node FROM (
  SELECT step, node FROM chain
  UNION ALL
  SELECT 0, CAST(0 AS BIGINT)
  WHERE EXISTS (SELECT 1 FROM dist, tgt WHERE dist.node = tgt.t
                AND dist.d <= 6)
)
ORDER BY step
""",
        # scoreNodes(): one-hop gather counts x ln((n+1)/(indeg+1)).
        "stream_scorenodes": """
WITH nn AS (SELECT count(*) AS n FROM documents),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS src FROM documents),
edges AS (
  SELECT src,
         CAST((src * 31 + j * 7 + 1) % (SELECT n FROM nn) AS BIGINT) AS dst
  FROM nodes CROSS JOIN (SELECT unnest([0, 1]) AS j)
  WHERE (src * 31 + j * 7 + 1) % (SELECT n FROM nn) <> src
),
roots AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS r FROM documents
          WHERE doc_id BETWEEN 0 AND 4),
walk AS (SELECT e.dst AS node, CAST(count(*) AS BIGINT) AS cnt
         FROM edges e JOIN roots ON e.src = roots.r GROUP BY e.dst),
indeg AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS indeg
          FROM edges GROUP BY dst)
SELECT w.node, w.cnt, i.indeg,
       round(w.cnt * ln((nn.n + 1.0) / (i.indeg + 1.0)), 6) AS score
FROM walk w JOIN indeg i USING (node) CROSS JOIN nn
ORDER BY score DESC, node ASC LIMIT 10
""",
        # preference pairs: same lead() reply attach, distinct-token
        # reward, identical row_number tie-breaks both ways.
        "preference_pairs": """
WITH {_CTE},
t AS (
  SELECT conv_id, turn_idx, role, text,
         lead(text) OVER w AS reply,
         lead(turn_idx) OVER w AS reply_turn
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
base AS (
  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           AS prompt_hash,
         conv_id, CAST(reply_turn AS INT) AS turn_idx,
         CAST(len(list_distinct(
             regexp_extract_all(lower(reply), '[a-z0-9]+'))) AS BIGINT)
           AS reward
  FROM t
  WHERE role = 'user' AND reply IS NOT NULL
    AND trim(text) <> '' AND trim(reply) <> ''
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY prompt_hash
             ORDER BY reward DESC, conv_id ASC, turn_idx ASC) AS rb,
         row_number() OVER (PARTITION BY prompt_hash
             ORDER BY reward ASC, conv_id ASC, turn_idx ASC) AS rw,
         CAST(count(*) OVER (PARTITION BY prompt_hash) AS BIGINT)
           AS n_replies
  FROM base
)
SELECT c.prompt_hash, c.n_replies,
       c.conv_id AS chosen_conv, c.turn_idx AS chosen_turn,
       c.reward AS chosen_reward,
       r.conv_id AS rejected_conv, r.turn_idx AS rejected_turn,
       r.reward AS rejected_reward,
       CAST(c.reward - r.reward AS BIGINT) AS margin
FROM (SELECT * FROM ranked WHERE rb = 1) c
JOIN (SELECT * FROM ranked WHERE rw = 1) r USING (prompt_hash)
WHERE c.n_replies >= 2 AND c.reward > r.reward
ORDER BY margin DESC, prompt_hash ASC
""".replace("{_CTE}", _CTE),
        # winnowing: k=8 gram md5s, w=4 window minima (identical ROWS
        # frame), per-doc distinct, shared-span census.
        "winnow_common_spans": """
WITH s AS (SELECT doc_id, lower(text) AS s FROM documents
           WHERE length(lower(text)) >= 11),
g0 AS (SELECT doc_id, s, length(s) - 7 AS n_pos,
              CAST(unnest(range(0, length(s) - 7)) AS INT) AS pos
       FROM s),
g AS (SELECT doc_id, n_pos, pos,
             ('0x' || substr(md5(substr(s, pos + 1, 8)), 1, 15))::BIGINT
               AS h
      FROM g0),
m AS (SELECT doc_id, pos, n_pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
      FROM g),
sel AS (SELECT DISTINCT doc_id, mh AS fp FROM m WHERE pos <= n_pos - 4)
SELECT fp, CAST(count(*) AS BIGINT) AS n_docs
FROM sel GROUP BY fp HAVING count(*) >= 2
ORDER BY n_docs DESC, fp ASC LIMIT 20
""",
        # winnowing pair report: ubiquity cull (df <= 50), fp-bucket
        # self-join, containment sim vs the smaller fingerprint set.
        "dedup_winnow_pairs": """
WITH s AS (SELECT doc_id, lower(text) AS s FROM documents
           WHERE length(lower(text)) >= 11),
g0 AS (SELECT doc_id, s, length(s) - 7 AS n_pos,
              CAST(unnest(range(0, length(s) - 7)) AS INT) AS pos
       FROM s),
g AS (SELECT doc_id, n_pos, pos,
             ('0x' || substr(md5(substr(s, pos + 1, 8)), 1, 15))::BIGINT
               AS h
      FROM g0),
m AS (SELECT doc_id, pos, n_pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh
      FROM g),
sel AS (SELECT DISTINCT doc_id, mh AS fp FROM m WHERE pos <= n_pos - 4),
rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
culled AS (SELECT sel.doc_id, sel.fp FROM sel JOIN rare USING (fp)),
shared AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         CAST(count(*) AS BIGINT) AS shared
  FROM culled a JOIN culled b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY doc_id)
SELECT doc1, doc2, shared,
       round(CAST(shared AS DOUBLE) / least(s1.n_fp, s2.n_fp), 6) AS sim
FROM shared
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE CAST(shared AS DOUBLE) / least(s1.n_fp, s2.n_fp) >= 0.5
ORDER BY sim DESC, doc1 ASC, doc2 ASC LIMIT 50
""",
        # temperature-0.5 mixture plan: sqrt-mass weights, 0.6x budget.
        "token_budget_plan": """
WITH pd AS (
  SELECT source,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS BIGINT) AS n_tok
  FROM documents
),
ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS tokens
       FROM pd GROUP BY source),
t AS (SELECT CAST(sum(tokens) AS DOUBLE) AS total,
             sum(sqrt(CAST(tokens AS DOUBLE))) AS z
      FROM ps)
SELECT source, n_docs, tokens,
       round(tokens / total, 6) AS share,
       round(sqrt(CAST(tokens AS DOUBLE)) / z, 6) AS weight,
       CAST(round(0.6 * total * sqrt(CAST(tokens AS DOUBLE)) / z)
            AS BIGINT) AS target_tokens,
       round(0.6 * total * sqrt(CAST(tokens AS DOUBLE)) / z / tokens, 6)
         AS epochs,
       CAST(round(0.6 * total * sqrt(CAST(tokens AS DOUBLE)) / z / tokens,
                  6) > 1.0 AS INT) AS upsampled
FROM ps CROSS JOIN t ORDER BY source
""",
        # size-tiered merge plan: bit-length tiers (length(bin())-1 is
        # integer-exact floor(log2) on both engines), complete
        # merge_factor groups of similar-sized segments.
        "segments_merge_plan": """
WITH seg AS (SELECT source || ':' || lang AS seg,
                    CAST(count(*) AS BIGINT) AS n_docs
             FROM documents GROUP BY 1),
t AS (SELECT seg, n_docs, CAST(length(bin(n_docs)) - 1 AS INT) AS tier
      FROM seg WHERE n_docs > 0),
r AS (SELECT *, row_number() OVER (PARTITION BY tier
          ORDER BY n_docs ASC, seg ASC) AS rn FROM t),
g AS (SELECT tier, CAST((rn - 1) // 4 AS INT) AS merge_ord,
             CAST(count(*) AS BIGINT) AS n_segs,
             string_agg(seg, ',' ORDER BY seg) AS seg_ids,
             CAST(sum(n_docs) AS BIGINT) AS total_docs
      FROM r GROUP BY tier, merge_ord)
SELECT tier, merge_ord, n_segs, seg_ids, total_docs FROM g
WHERE n_segs = 4 ORDER BY tier, merge_ord
""",
        # hard triplets: one CASE-keyed row_number picks min-cos
        # positive and max-cos negative per anchor.
        "ann_hard_triplets": """
WITH b AS (SELECT vec_id AS id, CAST(label AS BIGINT) AS label,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
a AS (SELECT id AS aid, label AS albl, v AS av FROM b WHERE id < 32),
p AS (SELECT a.aid, a.albl, b.id, b.label,
             list_cosine_similarity(b.v, a.av) AS c,
             (b.label = a.albl) AS is_pos
      FROM b CROSS JOIN a WHERE b.id <> a.aid),
r AS (SELECT *, row_number() OVER (PARTITION BY aid, is_pos
          ORDER BY (CASE WHEN is_pos THEN c ELSE -c END) ASC, id ASC)
            AS rn
      FROM p)
SELECT pos.aid AS anchor, pos.albl AS label, pos.id AS pos_id,
       round(pos.c, 6) AS pos_cos, neg.id AS neg_id,
       round(neg.c, 6) AS neg_cos, round(pos.c - neg.c, 6) AS margin
FROM (SELECT * FROM r WHERE rn = 1 AND is_pos) pos
JOIN (SELECT * FROM r WHERE rn = 1 AND NOT is_pos) neg
  ON pos.aid = neg.aid
ORDER BY anchor
""",
        # geofilt + geodist: deterministic coordinate grid, haversine
        # radius filter, nearest-first.
        "geofilt_topk": """
WITH c AS (
  SELECT doc_id,
         CAST(doc_id * 37 % 1800 AS DOUBLE) / 10.0 - 90.0 AS lat,
         CAST(doc_id * 73 % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon
  FROM documents
),
d AS (
  SELECT doc_id, lat, lon,
         2.0 * 6371.0088 * asin(sqrt(
             sin(radians(lat - 12.5) / 2) * sin(radians(lat - 12.5) / 2)
             + cos(radians(12.5)) * cos(radians(lat))
             * sin(radians(lon - 45.0) / 2) * sin(radians(lon - 45.0) / 2)
         )) AS dist
  FROM c
)
SELECT doc_id, lat, lon, round(dist, 6) AS dist_km
FROM d WHERE dist <= 3000.0
ORDER BY dist ASC, doc_id ASC LIMIT 20
""",
        # cell-pruned geofilt: the oracle is intentionally the SAME
        # brute formulation — the hash match proves the Spark side's
        # cell pruning is lossless.
        "geofilt_cells_topk": """
WITH c AS (
  SELECT doc_id,
         CAST(doc_id * 37 % 1800 AS DOUBLE) / 10.0 - 90.0 AS lat,
         CAST(doc_id * 73 % 3600 AS DOUBLE) / 10.0 - 180.0 AS lon
  FROM documents
),
d AS (
  SELECT doc_id, lat, lon,
         2.0 * 6371.0088 * asin(sqrt(
             sin(radians(lat - 12.5) / 2) * sin(radians(lat - 12.5) / 2)
             + cos(radians(12.5)) * cos(radians(lat))
             * sin(radians(lon - 45.0) / 2) * sin(radians(lon - 45.0) / 2)
         )) AS dist
  FROM c
)
SELECT doc_id, lat, lon, round(dist, 6) AS dist_km
FROM d WHERE dist <= 3000.0
ORDER BY dist ASC, doc_id ASC LIMIT 20
""",
        # first-occurrence funnel: conditional mins, sequential gate.
        "events_funnel": """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id
),
m1 AS (SELECT *, CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN t1 END AS m1
       FROM f),
m2 AS (SELECT *, CASE WHEN m1 IS NOT NULL AND t2 > m1 THEN t2 END AS m2
       FROM m1),
c AS (SELECT CAST(count(t0) AS BIGINT) AS n0,
             CAST(count(m1) AS BIGINT) AS n1,
             CAST(count(m2) AS BIGINT) AS n2
      FROM m2)
SELECT * FROM (
  SELECT 0 AS step_ord, 'view' AS step, n0 AS n_users,
         round(CASE WHEN n0 > 0 THEN 1.0 ELSE 0.0 END, 6) AS conv_rate
  FROM c
  UNION ALL
  SELECT 1, 'click', n1,
         round(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0
               ELSE 0.0 END, 6)
  FROM c
  UNION ALL
  SELECT 2, 'purchase', n2,
         round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1
               ELSE 0.0 END, 6)
  FROM c
) ORDER BY step_ord
""",
        # first-touch retention cohorts over distinct active days.
        "events_retention": """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
              FROM events),
first AS (SELECT user_id, min(day) AS cohort_day FROM days
          GROUP BY user_id)
SELECT strftime(g.cd, '%Y-%m-%d') AS cohort_day, g.day_offset,
       g.n_users
FROM (
  SELECT first.cohort_day AS cd,
         CAST(date_diff('day', first.cohort_day, days.day) AS INT)
           AS day_offset,
         CAST(count(*) AS BIGINT) AS n_users
  FROM days JOIN first USING (user_id)
  WHERE date_diff('day', first.cohort_day, days.day) <= 7
  GROUP BY 1, 2
) g ORDER BY cohort_day, day_offset
""",
        # graded nDCG@5: same scored/page CTEs as rank_eval, grade =
        # matched-term count, gain 2^g-1, log2 discount.
        "rank_ndcg": f"""
WITH {_DOCS},
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM ids),
tok AS (SELECT doc_id, conv_id, dl, unnest(toks) AS term FROM ids),
tf AS (
  SELECT doc_id, conv_id, dl, term, CAST(count(*) AS INT) AS tf
  FROM tok WHERE term IN {FLAGSHIP_TERMS!r}
  GROUP BY doc_id, conv_id, dl, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
qs(query_id, term) AS (VALUES
  ('q1', 'spark'), ('q1', 'window'), ('q1', 'merge'),
  ('q2', 'spark'), ('q3', 'window'), ('q3', 'merge')),
scored AS (
  SELECT qs.query_id, tf.doc_id,
         sum(
           ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
         ) AS raw
  FROM tf JOIN dfreq USING (term) JOIN qs USING (term) CROSS JOIN stats s
  GROUP BY qs.query_id, tf.doc_id
),
page AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY raw DESC, doc_id ASC) AS INT)
             AS rank
    FROM scored
  ) WHERE rank <= 5
),
dt AS (SELECT DISTINCT doc_id, term FROM tok
       WHERE term IN {FLAGSHIP_TERMS!r}),
g AS (SELECT q.query_id, dt.doc_id, CAST(count(*) AS BIGINT) AS grade
      FROM dt JOIN qs q USING (term) GROUP BY 1, 2),
h AS (SELECT p.query_id, p.rank, coalesce(g.grade, 0) AS grade
      FROM page p LEFT JOIN g
        ON g.query_id = p.query_id AND g.doc_id = p.doc_id),
d AS (SELECT query_id,
             sum((power(2, grade) - 1) / log2(rank + 1.0)) AS dcg
      FROM h GROUP BY 1),
ir AS (SELECT query_id, grade,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY grade DESC, doc_id ASC) AS irank
       FROM g),
i AS (SELECT query_id,
             sum((power(2, grade) - 1) / log2(irank + 1.0)) AS idcg
      FROM ir WHERE irank <= 5 GROUP BY 1)
SELECT d.query_id, round(d.dcg, 6) AS dcg,
       round(coalesce(i.idcg, 0), 6) AS idcg,
       round(CASE WHEN coalesce(i.idcg, 0) > 0 THEN d.dcg / i.idcg
             ELSE 0 END, 6) AS ndcg
FROM d LEFT JOIN i ON d.query_id = i.query_id
ORDER BY d.query_id
""",
        # MaxSim late interaction: per (group, query-vec) max cosine,
        # summed per group.
        "ann_maxsim_topk": """
WITH b AS (SELECT vec_id, CAST(vec_id % 50 AS BIGINT) AS gid,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM b WHERE gid = 0),
p AS (SELECT b.gid, q.qid,
             list_cosine_similarity(b.v, q.qv) AS c
      FROM b CROSS JOIN q),
mx AS (SELECT gid, qid, max(c) AS mx FROM p GROUP BY gid, qid)
SELECT gid AS group_id, CAST(count(*) AS BIGINT) AS n_query_vecs,
       round(sum(mx), 6) AS score
FROM mx GROUP BY gid
ORDER BY score DESC, group_id ASC LIMIT 10
""",
        # T5 span-corruption budget: all-DOUBLE casts so DuckDB's
        # decimal literals don't round differently from Spark doubles.
        "span_corruption_plan": """
WITH n AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS BIGINT) AS n_tok
  FROM documents WHERE doc_id < 200
),
c AS (
  SELECT doc_id, n_tok,
         CASE WHEN n_tok >= 2 THEN
           least(greatest(CAST(round(n_tok * CAST(0.15 AS DOUBLE))
                               AS BIGINT), 1), n_tok - 1)
         ELSE 0 END AS n_corrupt
  FROM n
),
s AS (
  SELECT doc_id, n_tok, n_corrupt,
         CASE WHEN n_corrupt > 0 THEN
           greatest(CAST(round(CAST(n_corrupt AS DOUBLE)
                               / CAST(3.0 AS DOUBLE)) AS BIGINT), 1)
         ELSE 0 END AS n_spans
  FROM c
)
SELECT doc_id, n_tok, n_corrupt, n_spans,
       CAST(n_tok - n_corrupt + n_spans + 1 AS BIGINT) AS inputs_len,
       CAST(CASE WHEN n_spans > 0 THEN n_corrupt + n_spans + 1
            ELSE 0 END AS BIGINT) AS targets_len
FROM s ORDER BY doc_id
""",
        # unrolled 10-round PageRank (see _pagerank_sql).
        "graph_pagerank": _pagerank_sql(iters=10, k=20),
        # TextTiling-style adjacent-turn Jaccard segmentation.
        "conv_topic_segments": """
WITH {_CTE},
t AS (SELECT conv_id, turn_idx,
             list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS toks
      FROM transcripts WHERE length(trim(text)) > 0),
p AS (SELECT conv_id, toks,
             lag(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prev
      FROM t),
i AS (SELECT conv_id, toks, prev,
             len(list_filter(toks, x -> list_contains(prev, x))) AS inter
      FROM p),
j AS (SELECT conv_id,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN (len(toks) + len(prev) - inter) > 0
                    THEN CAST(inter AS DOUBLE)
                         / (len(toks) + len(prev) - inter)
                  ELSE 0.0 END AS jacc
      FROM i)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(1 + sum(CASE WHEN jacc < 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_segments,
       round(avg(jacc), 6) AS mean_jacc
FROM j GROUP BY conv_id ORDER BY conv_id
""".replace("{_CTE}", _CTE),
        # Heaps'-law growth: first-occurrence histogram, same integer
        # ceil cuts as the Spark side.
        "vocab_growth": """
WITH nn AS (SELECT count(*) AS n FROM documents),
tok AS (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        FROM documents),
first AS (SELECT term, min(doc_id) AS fd FROM tok GROUP BY term),
nt AS (SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS BIGINT) AS ntok
       FROM documents),
cuts AS (SELECT CAST(step AS INT) AS step,
                CAST(step * 100 // 10 AS INT) AS pct,
                CAST(((SELECT n FROM nn) * step + 9) // 10 AS BIGINT)
                  AS cut_docs
         FROM (SELECT unnest(range(1, 11)) AS step)),
tk AS (SELECT c.step, CAST(sum(nt.ntok) AS BIGINT) AS s
       FROM cuts c JOIN nt ON nt.doc_id < c.cut_docs GROUP BY c.step),
vb AS (SELECT c.step, CAST(count(*) AS BIGINT) AS s
       FROM cuts c JOIN first f ON f.fd < c.cut_docs GROUP BY c.step)
SELECT c.step, c.pct, c.cut_docs AS n_docs_prefix,
       CAST(coalesce(tk.s, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(vb.s, 0) AS BIGINT) AS vocab_size
FROM cuts c
LEFT JOIN tk ON tk.step = c.step
LEFT JOIN vb ON vb.step = c.step
ORDER BY c.step
""",
        # daily volume z-scores per event type, top-20 by |z|.
        "events_anomaly": """
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
sc AS (SELECT event_type, day, n,
              avg(n) OVER (PARTITION BY event_type) AS mu,
              stddev_samp(n) OVER (PARTITION BY event_type) AS sd
       FROM daily)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       round((n - mu) / sd, 6) AS z,
       CAST(abs((n - mu) / sd) > 2.0 AS INT) AS is_anomaly
FROM sc WHERE sd > 0
ORDER BY abs(round((n - mu) / sd, 6)) DESC, event_type, day
LIMIT 20
""",
        # CDC chunk accounting: cut where the 60-bit gram hash % 64
        # == 0 at the gram's END char; lag() rebuilds spans; tail span
        # closes each doc.
        "cdc_chunk_stats": """
WITH s AS (SELECT doc_id, source, lower(text) AS s FROM documents
           WHERE length(lower(text)) >= 8),
g0 AS (SELECT doc_id, source, s,
              CAST(unnest(range(1, length(s) - 8 + 2)) AS INT) AS p
       FROM s),
cut AS (SELECT doc_id, source, s, p + 7 AS cut
        FROM g0
        WHERE ('0x' || substr(md5(substr(s, p, 8)), 1, 15))::BIGINT
              % 64 = 0),
spans AS (
  SELECT doc_id, source, s,
         coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0)
           AS a,
         cut AS b
  FROM cut
),
mx AS (SELECT doc_id, max(cut) AS mc FROM cut GROUP BY doc_id),
tail AS (SELECT s.doc_id, s.source, s.s, coalesce(mx.mc, 0) AS a,
                length(s.s) AS b
         FROM s LEFT JOIN mx USING (doc_id)),
ch AS (SELECT source, md5(substr(s, a + 1, b - a)) AS h,
              CAST(b - a AS BIGINT) AS chunk_len
       FROM (SELECT * FROM spans UNION ALL SELECT * FROM tail)
       WHERE b > a)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
       round(avg(chunk_len), 6) AS avg_len,
       round(1.0 - count(DISTINCT h) / CAST(count(*) AS DOUBLE), 6)
         AS dedup_ratio
FROM ch GROUP BY source ORDER BY source
""",
        # split leakage: exact-join pair list (the minhash oracle) x
        # the 90/5/5 hash split, banded.
        "split_leakage": """
WITH docs AS (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
              FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks FROM docs),
sh AS (SELECT DISTINCT doc_id,
              toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
j AS (SELECT doc1, doc2, i::DOUBLE / (c1.c + c2.c - i) AS jac
      FROM inter
      JOIN card c1 ON doc1 = c1.doc_id
      JOIN card c2 ON doc2 = c2.doc_id),
pr AS (SELECT doc1, doc2, round(jac, 6) AS jaccard FROM j
       WHERE jac >= 0.3),
sp AS (SELECT doc_id,
              CASE WHEN u < 0.90 THEN 'train'
                   WHEN u < 0.95 THEN 'val'
                   ELSE 'test' END AS split
       FROM (SELECT doc_id,
                    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                      ::BIGINT / 1152921504606846976.0 AS u
             FROM documents)),
x AS (SELECT CASE WHEN jaccard < 0.5 THEN '0.30-0.50'
                  WHEN jaccard < 0.7 THEN '0.50-0.70'
                  WHEN jaccard < 0.9 THEN '0.70-0.90'
                  ELSE '0.90-1.00' END AS band,
             CASE WHEN s1.split <> s2.split THEN 1 ELSE 0 END AS leaked
      FROM pr
      JOIN sp s1 ON pr.doc1 = s1.doc_id
      JOIN sp s2 ON pr.doc2 = s2.doc_id)
SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(leaked) AS BIGINT) AS n_leaked,
       round(sum(leaked) / CAST(count(*) AS DOUBLE), 6) AS leak_rate
FROM x GROUP BY band ORDER BY band
""",
        # cluster-then-split census: components (recursive closure,
        # the dup_clusters oracle) -> rep-hash split -> census.
        "cluster_split": """
WITH RECURSIVE
docs AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+')
                AS toks
         FROM documents),
pos AS (SELECT doc_id, generate_subscripts(toks, 1) AS p, toks
        FROM docs),
sh AS (SELECT DISTINCT doc_id,
              toks[p] || ' ' || toks[p+1] || ' ' || toks[p+2] AS shingle
       FROM pos WHERE p + 2 <= len(toks)),
card AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
prs AS (SELECT doc1, doc2
        FROM inter
        JOIN card c1 ON doc1 = c1.doc_id
        JOIN card c2 ON doc2 = c2.doc_id
        WHERE i::DOUBLE / (c1.c + c2.c - i) >= 0.3),
edges AS (SELECT doc1 AS a, doc2 AS b FROM prs
          UNION ALL SELECT doc2, doc1 FROM prs),
walk(doc_id, n) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.n
),
labs AS (SELECT doc_id, min(n) AS rep_id FROM walk GROUP BY doc_id),
spl AS (SELECT rep_id,
               CASE WHEN u < 0.90 THEN 'train'
                    WHEN u < 0.95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT rep_id,
                     ('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 15))
                       ::BIGINT / 1152921504606846976.0 AS u
              FROM (SELECT DISTINCT rep_id FROM labs)))
SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT l.rep_id) AS BIGINT) AS n_clusters
FROM labs l JOIN spl s USING (rep_id)
GROUP BY s.split ORDER BY s.split
""",
        # SFT loss-mask accounting over non-empty turns.
        "sft_loss_mask": """
WITH {_CTE},
t AS (SELECT conv_id, role,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS nt
      FROM transcripts WHERE length(trim(text)) > 0)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN role = 'assistant' THEN nt ELSE 0 END)
            AS BIGINT) AS n_trainable,
       round(CASE WHEN sum(nt) > 0 THEN
               sum(CASE WHEN role = 'assistant' THEN nt ELSE 0 END)
               / CAST(sum(nt) AS DOUBLE)
             ELSE 0.0 END, 6) AS trainable_frac
FROM t GROUP BY conv_id ORDER BY conv_id
""".replace("{_CTE}", _CTE),
        # mutual kNN: one ranked direction, self-joined on the
        # reversed key.
        "ann_mutual_knn": """
WITH b AS (SELECT vec_id AS id,
                  list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings WHERE vec_id < 500),
p AS (SELECT a.id AS ia, c.id AS ib,
             list_cosine_similarity(a.v, c.v) AS c
      FROM b a CROSS JOIN b c WHERE a.id <> c.id),
r AS (SELECT *, row_number() OVER (PARTITION BY ia
          ORDER BY c DESC, ib ASC) AS rn
      FROM p),
knn AS (SELECT ia, ib, c FROM r WHERE rn <= 5)
SELECT f.ia AS id1, f.ib AS id2, round(f.c, 6) AS cos
FROM knn f JOIN knn g ON g.ia = f.ib AND g.ib = f.ia
WHERE f.ia < f.ib
ORDER BY cos DESC, id1 ASC, id2 ASC
""",
        # store-probed mutual kNN: centroid seeding (md5 rank),
        # assignment (cosine argmax), per-query probe selection
        # (top-nprobe centroids), candidate top-k, mutual filter —
        # the whole probed formulation replayed relationally.
        "ann_mutual_knn_stored": """
WITH cent AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE)
           AS cvec,
         CAST(row_number() OVER (ORDER BY md5('17:' || vec_id)) - 1
              AS INT) AS list_id
  FROM embeddings
  ORDER BY md5('17:' || vec_id) LIMIT 16
),
ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       FROM embeddings),
scored AS (
  SELECT ev.vec_id, c.list_id, list_cosine_similarity(ev.v, c.cvec)
           AS cs
  FROM ev CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, list_id,
         row_number() OVER (PARTITION BY vec_id
             ORDER BY cs DESC, list_id ASC) AS rn
  FROM scored
),
assign AS (SELECT vec_id, list_id FROM ranked WHERE rn = 1),
probe AS (SELECT vec_id AS qid, list_id FROM ranked
          WHERE rn <= 4 AND vec_id < 500),
cand AS (
  SELECT p.qid, a.vec_id AS cid
  FROM probe p JOIN assign a USING (list_id)
  WHERE a.vec_id <> p.qid
),
s AS (
  SELECT cand.qid, cand.cid, list_cosine_similarity(q.v, e.v) AS c
  FROM cand JOIN ev q ON q.vec_id = cand.qid
            JOIN ev e ON e.vec_id = cand.cid
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY c DESC, cid ASC) AS rn
      FROM s),
knn AS (SELECT qid, cid, c FROM r WHERE rn <= 5)
SELECT f.qid AS id1, f.cid AS id2, round(f.c, 6) AS cos
FROM knn f JOIN knn g ON g.qid = f.cid AND g.cid = f.qid
WHERE f.qid < f.cid
ORDER BY cos DESC, id1 ASC, id2 ASC
""",
        # IVF list balance: the stored assignment (md5-rank seed
        # centroids, cosine argmax) re-derived relationally.
        # batched IVF probe: seeding, assignment, per-query probe
        # selection, per-qid candidate top-k — replayed relationally
        "ann_ivf_batch_topk": """
WITH cent AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE)
           AS cvec,
         CAST(row_number() OVER (ORDER BY md5('17:' || vec_id)) - 1
              AS INT) AS list_id
  FROM embeddings
  ORDER BY md5('17:' || vec_id) LIMIT 16
),
ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       FROM embeddings),
scored AS (
  SELECT ev.vec_id, c.list_id, list_cosine_similarity(ev.v, c.cvec)
           AS cs
  FROM ev CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY cs DESC, list_id ASC) AS rn
    FROM scored) t WHERE rn = 1
),
qs AS (SELECT vec_id AS qid,
              list_transform(embedding, x -> x::DOUBLE) AS qv
       FROM embeddings WHERE vec_id IN (0, 17, 100)),
probe AS (
  SELECT qid, list_id FROM (
    SELECT qs.qid, c.list_id,
           row_number() OVER (PARTITION BY qs.qid
               ORDER BY list_cosine_similarity(c.cvec, qs.qv) DESC,
                        c.list_id ASC) AS rn
    FROM cent c CROSS JOIN qs) t WHERE rn <= 4
),
cand AS (SELECT p.qid, a.vec_id FROM probe p JOIN assign a USING (list_id)),
s AS (
  SELECT cand.qid, e.vec_id AS id,
         list_cosine_similarity(
           list_transform(e.embedding, x -> x::DOUBLE), qs.qv) AS cs
  FROM embeddings e
  JOIN cand ON cand.vec_id = e.vec_id
  JOIN qs ON qs.qid = cand.qid
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cs DESC, id ASC) AS rn
      FROM s)
SELECT qid, id, round(cs, 6) AS cos FROM r WHERE rn <= 10
ORDER BY qid ASC, cos DESC, id ASC
""",
        "ann_ivf_balance": """
WITH cent AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE)
           AS cvec,
         CAST(row_number() OVER (ORDER BY md5('17:' || vec_id)) - 1
              AS INT) AS list_id
  FROM embeddings
  ORDER BY md5('17:' || vec_id) LIMIT 16
),
ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
       FROM embeddings),
scored AS (
  SELECT ev.vec_id, c.list_id, list_cosine_similarity(ev.v, c.cvec)
           AS cs
  FROM ev CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id
               ORDER BY cs DESC, list_id ASC) AS rn
    FROM scored) t WHERE rn = 1
),
per AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_vecs
        FROM assign GROUP BY list_id),
t AS (SELECT CAST(sum(n_vecs) AS DOUBLE) AS t FROM per)
SELECT CAST(list_id AS INT) AS list_id, n_vecs,
       round(n_vecs / t.t, 6) AS share
FROM per CROSS JOIN t ORDER BY list_id
""",
        # ALTO end-to-end: the oracle replays layout formulas + unit
        # conversion + BM25 + first-hit DIRECTLY from the source text
        # (no XML) — a hash match proves the Spark side's synth->parse
        # XML round trip recovers exactly the intended data.
        "ocr_alto_e2e": """
WITH d AS (
  SELECT doc_id, list_slice(string_split(text, ' '), 1, 24) AS toks
  FROM documents WHERE doc_id < 60
),
w AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS i
  FROM d
),
meta AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'mm10' WHEN 1 THEN 'inch1200'
              ELSE 'pixel' END AS unit,
         CASE WHEN doc_id % 2 = 0 THEN (doc_id % 4) * 50 + 150
              ELSE 300 END AS dpi,
         4000 + doc_id * 3 AS pw_raw, 6000 + doc_id * 5 AS ph_raw
  FROM d
),
raw AS (
  SELECT w.doc_id, w.i, w.term, m.unit, m.dpi, m.pw_raw, m.ph_raw,
         100 + w.i * 17 AS h_raw, 50 + (w.i // 4) * 23 AS v_raw,
         40 + (w.i % 7) * 3 AS w_raw, 20 + (w.i % 5) * 2 AS ht_raw
  FROM w JOIN meta m USING (doc_id)
),
conv AS (
  SELECT doc_id, i AS token_pos, term,
    CASE unit WHEN 'inch1200' THEN (h_raw * dpi) // 1200
         WHEN 'mm10' THEN CAST(floor(3.7795275591 * h_raw) AS BIGINT)
         ELSE h_raw END AS hpos,
    CASE unit WHEN 'inch1200' THEN (v_raw * dpi) // 1200
         WHEN 'mm10' THEN CAST(floor(3.7795275591 * v_raw) AS BIGINT)
         ELSE v_raw END AS vpos,
    CASE unit WHEN 'inch1200' THEN (w_raw * dpi) // 1200
         WHEN 'mm10' THEN CAST(floor(3.7795275591 * w_raw) AS BIGINT)
         ELSE w_raw END AS width,
    CASE unit WHEN 'inch1200' THEN (ht_raw * dpi) // 1200
         WHEN 'mm10' THEN CAST(floor(3.7795275591 * ht_raw) AS BIGINT)
         ELSE ht_raw END AS height,
    CASE unit WHEN 'inch1200' THEN (pw_raw * dpi) // 1200
         WHEN 'mm10' THEN CAST(floor(3.7795275591 * pw_raw) AS BIGINT)
         ELSE pw_raw END AS page_w,
    CASE unit WHEN 'inch1200' THEN (ph_raw * dpi) // 1200
         WHEN 'mm10' THEN CAST(floor(3.7795275591 * ph_raw) AS BIGINT)
         ELSE ph_raw END AS page_h
  FROM raw
),
dl AS (SELECT doc_id, any_value(page_w) AS page_w,
              any_value(page_h) AS page_h,
              CAST(count(*) AS BIGINT) AS dl
       FROM conv GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf
  FROM conv WHERE term IN ('table', 'value')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS raw
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
       CROSS JOIN stats s
  GROUP BY tf.doc_id
),
firsth AS (
  SELECT doc_id, token_pos AS hit_pos, term AS hit_term,
         hpos, vpos, width, height,
         row_number() OVER (PARTITION BY doc_id ORDER BY token_pos)
           AS rn
  FROM conv WHERE term IN ('table', 'value')
)
SELECT s.doc_id, 'Page.0' AS page_id, dl.page_w, dl.page_h, dl.dl,
       round(s.raw, 6) AS score, f.hit_pos, f.hit_term,
       f.hpos, f.vpos, f.width, f.height
FROM scored s JOIN dl USING (doc_id)
     JOIN firsth f ON f.doc_id = s.doc_id AND f.rn = 1
ORDER BY s.raw DESC, s.doc_id ASC
LIMIT 10
""",
        # multi-file item loop: designated-empty slots + exhausted
        # chunks both skip WITHOUT incrementing the ordinal (the
        # indexer.go:98-148 dense-position semantics), replayed as two
        # stacked skip-then-rank windows.
        "ocr_alto_multipage_e2e": """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id < 20
),
slots AS (SELECT doc_id, toks, unnest(range(6)) AS slot FROM d),
des AS (
  SELECT doc_id, toks, slot,
         row_number() OVER (PARTITION BY doc_id ORDER BY slot) - 1
           AS k
  FROM slots WHERE (slot + doc_id) % 3 <> 1
),
pages AS (
  SELECT doc_id, slot,
         list_slice(toks, k * 8 + 1, k * 8 + 8) AS chunk
  FROM des
),
proc AS (
  SELECT doc_id, slot, chunk,
         row_number() OVER (PARTITION BY doc_id ORDER BY slot) - 1
           AS ordinal
  FROM pages WHERE len(chunk) > 0
),
meta AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'mm10' WHEN 1 THEN 'inch1200'
              ELSE 'pixel' END AS unit,
         CASE WHEN doc_id % 2 = 0 THEN (doc_id % 4) * 50 + 150
              ELSE 300 END AS dpi
  FROM d
)
SELECT p.doc_id, p.slot,
       'Page.' || p.ordinal AS page_id,
       CAST(len(p.chunk) AS BIGINT) AS n_page_tokens,
       p.chunk[1] AS first_term,
       CASE m.unit WHEN 'inch1200' THEN (100 * m.dpi) // 1200
            WHEN 'mm10' THEN CAST(floor(3.7795275591 * 100) AS BIGINT)
            ELSE 100 END AS first_hpos
FROM proc p JOIN meta m USING (doc_id)
ORDER BY p.doc_id, p.slot
""",
        # hOCR end-to-end: corner formulas -> extents, page dims from
        # the page bbox; same direct-replay discipline as the ALTO twin.
        "ocr_hocr_e2e": """
WITH d AS (
  SELECT doc_id, list_slice(string_split(text, ' '), 1, 24) AS toks
  FROM documents WHERE doc_id < 60
),
w AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS i
  FROM d
),
conv AS (
  SELECT doc_id, i AS token_pos, term,
         90 + i * 13 AS hpos, 40 + (i // 4) * 19 AS vpos,
         30 + (i % 6) * 4 AS width, 18 + (i % 4) * 3 AS height,
         3000 + doc_id * 2 AS page_w, 4500 + doc_id * 3 AS page_h
  FROM w
),
dl AS (SELECT doc_id, any_value(page_w) AS page_w,
              any_value(page_h) AS page_h,
              CAST(count(*) AS BIGINT) AS dl
       FROM conv GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS INT) AS tf
  FROM conv WHERE term IN ('table', 'value')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))) AS raw
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
       CROSS JOIN stats s
  GROUP BY tf.doc_id
),
firsth AS (
  SELECT doc_id, token_pos AS hit_pos, term AS hit_term,
         hpos, vpos, width, height,
         row_number() OVER (PARTITION BY doc_id ORDER BY token_pos)
           AS rn
  FROM conv WHERE term IN ('table', 'value')
)
SELECT s.doc_id, 'Page.0' AS page_id, dl.page_w, dl.page_h, dl.dl,
       round(s.raw, 6) AS score, f.hit_pos, f.hit_term,
       CAST(f.hpos AS BIGINT) AS hpos, CAST(f.vpos AS BIGINT) AS vpos,
       CAST(f.width AS BIGINT) AS width,
       CAST(f.height AS BIGINT) AS height
FROM scored s JOIN dl USING (doc_id)
     JOIN firsth f ON f.doc_id = s.doc_id AND f.rn = 1
ORDER BY s.raw DESC, s.doc_id ASC
LIMIT 10
""",
        # MiniOCR render: Go xml.Marshal string assembly — trailing
        # space inside <w>, skip-empty words, full-index quote swap
        # (double -> single) applied LAST across the whole artifact.
        "ocr_miniocr_render": """
WITH d AS (
  SELECT doc_id, list_slice(string_split(text, ' '), 1, 24) AS toks
  FROM documents WHERE doc_id < 40
),
w AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS i
  FROM d
),
wx AS (
  SELECT doc_id, i, i // 4 AS line, i // 8 AS block,
         '<w x="' || (100 + i * 17) || ' ' || (50 + (i // 4) * 23)
           || ' ' || (40 + (i % 7) * 3) || ' ' || (20 + (i % 5) * 2)
           || '">' || term || ' </w>' AS piece
  FROM w WHERE term <> ''
),
l AS (SELECT doc_id, block, line,
             string_agg(piece, '' ORDER BY i) AS body
      FROM wx GROUP BY doc_id, block, line),
b AS (SELECT doc_id, block,
             string_agg('<l>' || body || '</l>', '' ORDER BY line)
               AS body
      FROM l GROUP BY doc_id, block),
p AS (SELECT doc_id,
             string_agg('<b>' || body || '</b>', '' ORDER BY block)
               AS body
      FROM b GROUP BY doc_id)
SELECT doc_id,
       replace('<ocr><p xml:id="Page.0" wh="' || (2480 + doc_id)
               || ' ' || (3508 + doc_id) || '">' || body
               || '</p></ocr>', '"', chr(39)) AS miniocr
FROM p
""",
        # epoch replication plan: floor(e) copies + one fractional
        # copy under the md5 unit uniform (same 60-bit discipline as
        # doc_split); lateral generate_series replays the explode.
        "epoch_schedule": """
WITH e AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                     ELSE 0 END AS base,
         CASE source WHEN 'src0' THEN 0.5 WHEN 'src2' THEN 0.25
                     ELSE 0.0 END AS frac,
         ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT / 1152921504606846976.0 AS u
  FROM documents
),
n AS (SELECT doc_id, source,
             base + CASE WHEN frac > 0 AND u < frac THEN 1 ELSE 0 END
               AS n_copies
      FROM e)
SELECT doc_id, source, epoch FROM (
  SELECT doc_id, source,
         CAST(unnest(range(0, n_copies)) AS INT) AS epoch
  FROM n
)
ORDER BY doc_id, epoch
""",
        # curriculum order: NTILE difficulty buckets, md5 shuffle
        # within, dense global rank.
        "curriculum_order": """
WITH b AS (
  SELECT doc_id,
         CAST(ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS INT)
           AS bucket
  FROM documents
),
k AS (SELECT doc_id, bucket,
             md5('cur0:' || CAST(doc_id AS VARCHAR)) AS key FROM b)
SELECT doc_id, bucket,
       CAST(row_number() OVER (ORDER BY bucket, key, doc_id) - 1 AS BIGINT)
         AS position
FROM k ORDER BY position
""",
        **_PIPELINE_ORACLES,
    }


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    # the banded containment path must answer IDENTICALLY to the exact
    # spine — same oracle, so the hash match proves losslessness
    d["dedup_containment_banded"] = d["dedup_containment"]
    # HNSW probed at ef >= seg_size is exhaustive per segment (see
    # _q_ann_hnsw_topk) — the brute-force scan is its exact oracle
    d["ann_hnsw_topk"] = d["ann_cosine_topk"]
    # the batch path at the same ef: per-qid brute top-k
    d["ann_hnsw_batch_topk"] = """
WITH qs AS (SELECT vec_id AS qid,
                   list_transform(embedding, x -> x::DOUBLE) AS qv
            FROM embeddings WHERE vec_id IN (0, 17, 100)),
s AS (SELECT qs.qid, e.vec_id AS id,
             list_cosine_similarity(
               list_transform(e.embedding, x -> x::DOUBLE), qs.qv) AS c
      FROM embeddings e CROSS JOIN qs),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY c DESC, id ASC) AS rn
      FROM s)
SELECT qid, id, round(c, 6) AS cos FROM r WHERE rn <= 10
ORDER BY qid ASC, cos DESC, id ASC
"""
    # poly winnowing: identical pipeline, gram hash swapped for the
    # integer Rabin-Karp polynomial both engines evaluate exactly
    from solr_ocr_processor_spark.operators.dedup import (
        WINNOW_POLY_MOD,
        winnow_poly_powers,
    )

    poly = " + ".join(
        f"CAST(ord(substr(s, pos + {j + 1}, 1)) AS BIGINT) * {p}"
        if p != 1
        else f"CAST(ord(substr(s, pos + {j + 1}, 1)) AS BIGINT)"
        for j, p in enumerate(winnow_poly_powers(8))
    )
    d["dedup_winnow_pairs_poly"] = d["dedup_winnow_pairs"].replace(
        "('0x' || substr(md5(substr(s, pos + 1, 8)), 1, 15))::BIGINT",
        f"({poly}) % {WINNOW_POLY_MOD}",
    )
    # the streaming near-dup gate replays, in one availableNow batch,
    # exactly the batch incremental operator's answer — same oracle
    d["stream_near_dedup"] = d["incremental_dedup"]
    return d
