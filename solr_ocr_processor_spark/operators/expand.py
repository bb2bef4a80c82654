"""Multi-term query rewrite: prefix and fuzzy queries.

Lucene-surface parity: the reference forwards user query strings
verbatim to Solr (app/process/solr.go:48-49,102-103), whose Lucene
parser rewrites ``win*`` (PrefixQuery) and ``spark~1`` (FuzzyQuery)
into a boolean OR over the dictionary terms the pattern matches,
capped at the 50 highest-docFreq expansions (TopTermsRewrite).
:mod:`boolean` covers the explicit-operator surface; this module
covers the pattern-term surface. Same model, Spark-first:

1. **Expand against the dictionary**, never the postings: term_stats
   is |vocab| rows — Heaps' law keeps it orders of magnitude below the
   corpus at any scale. A prefix compiles to ``startswith``, which
   Catalyst pushes into the parquet scan (PushedFilters:
   StringStartsWith), so the term-sorted stored dictionary prunes row
   groups; fuzzy matching brute-forces Levenshtein over the
   dictionary behind a length band ``|len(t) - len(w)| <= max_edits``
   that eliminates most rows before the edit-distance kernel runs.
   (Lucene intersects an FST automaton instead — sub-linear in vocab;
   one narrow vectorized dictionary scan is the Spark-native trade
   and is corpus-size-independent.)

2. **Cap deterministically**: top ``max_expansions`` by
   (df DESC, term ASC) — Lucene's highest-docFreq cut made a total
   order, so reruns, resumes, and the DuckDB oracle replay the exact
   expansion set. The cap lowers to TakeOrderedAndProject (per-
   partition heaps, k rows to the driver).

3. **Score as a disjunctive BM25** over the expanded terms — each
   matched expansion contributes its own term score once (Lucene
   SCORING_BOOLEAN_REWRITE semantics) via the shared score contract
   (score.bm25_term_score + sorted_term_fold), one dictionary-
   filtered posting scan, TakeOrderedAndProject top-k.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from ..functions.bm25 import idf_column, idf_scalar
from ..functions.tokenizer import query_terms
from .build import Index
from .score import (
    _suppress,
    bm25_scores_terms,
    bm25_term_score,
    query_stats,
    rank_topk,
    sorted_term_fold,
    term_lookup,
)

MAX_EXPANSIONS = 50  # Lucene BooleanQuery rewrite default


def _normalize_single(word: str, cfg: IndexConfig) -> str | None:
    """Normalize a pattern word through the build analyzer (build-time
    and query-time analysis must match — reference rule,
    app/assets/build/config.yml:34-39). Multi-token normalizations are
    rejected: a pattern applies to ONE dictionary term."""
    toks = query_terms(word, cfg)
    return toks[0] if len(toks) == 1 else None


def expand_prefix(
    spark: SparkSession,
    index: Index,
    prefix: str,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
) -> list[str]:
    """Dictionary terms starting with ``prefix`` (a trailing ``*`` is
    accepted and stripped), top ``max_expansions`` by (df DESC, term
    ASC). Empty prefix is rejected — Lucene refuses a bare ``*`` for
    the same reason: it expands to the whole dictionary."""
    if not is_valid_prefix_pattern(prefix):
        return []
    p = _normalize_single(prefix.rstrip("*"), cfg)
    if not p:
        return []
    rows = (
        index.term_stats.where(F.col("term").startswith(p))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def is_valid_prefix_pattern(pattern: str) -> bool:
    """True iff the pattern is a Lucene-shaped prefix: non-empty stem,
    '*' only at the end. Leading/interior wildcards ('*abc', 's*r') are
    NOT prefix queries — without this gate the analyzer silently eats
    the '*' and the query runs with the wrong semantics."""
    stem = pattern.rstrip("*")
    return bool(stem.strip()) and "*" not in stem


def _wildcard_like(pattern: str) -> str | None:
    """Validate a Lucene wildcard pattern and compile it to SQL LIKE:
    ``*`` (any run) -> ``%``, ``?`` (one char) -> ``_``. LIKE is the
    match engine on BOTH sides — Spark's codegen ``Like`` and DuckDB's
    ``LIKE`` share exact semantics, so the expansion set replays
    bit-for-bit in the oracle with no regex-dialect drift.

    Literal characters must already be index-alphabet (``[a-z0-9]``
    after casefold): the analyzer never sees the pattern (it would eat
    the wildcards), so anything it WOULD have rewritten is rejected
    instead. A pattern with no literal character (``*``, ``?*``…) is
    rejected the way Lucene refuses a match-all expansion."""
    p = pattern.lower()
    if not p or not re.fullmatch(r"[a-z0-9*?]+", p):
        return None
    if not re.search(r"[a-z0-9]", p):
        return None
    return p.replace("*", "%").replace("?", "_")


def is_valid_wildcard_pattern(pattern: str) -> bool:
    """True iff :func:`expand_wildcard` would accept the pattern —
    callers (the CLI) reject invalid patterns as a 400 instead of
    silently matching nothing."""
    return _wildcard_like(pattern) is not None


def expand_wildcard(
    spark: SparkSession,
    index: Index,
    pattern: str,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
) -> list[str]:
    """Dictionary terms matching a Lucene wildcard pattern (``s?a*``,
    ``w*d?w``), top ``max_expansions`` by (df DESC, term ASC) — the
    WildcardQuery sibling of :func:`expand_prefix` for wildcards in
    ANY position. Same |vocab|-bounded dictionary scan; the pattern's
    literal prefix (chars before the first wildcard) is added as a
    ``startswith`` conjunct so Catalyst still pushes a
    StringStartsWith filter into the term-sorted parquet scan — the
    LIKE match then runs only over the surviving row groups (Lucene
    walks its FST the same way: anchored by the literal prefix)."""
    like = _wildcard_like(pattern)
    if like is None:
        return []
    cond = F.col("term").like(like)
    m = re.match(r"[a-z0-9]*", pattern.lower())
    if m and m.group(0):
        cond = F.col("term").startswith(m.group(0)) & cond
    rows = (
        index.term_stats.where(cond)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def expand_regexp(
    spark: SparkSession,
    index: Index,
    regex: str,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
) -> list[str]:
    """Dictionary terms matching a Lucene ``/regexp/`` query, top
    ``max_expansions`` by (df DESC, term ASC). Lucene regexps are
    implicitly ANCHORED (the automaton must consume the whole term),
    so the pattern is wrapped ``^(?:re)$`` before the dictionary scan.

    The pattern must pass the dialect-shared subset check used by the
    /terms component (operators/terms.is_valid_terms_regex): the same
    string then means the same language to Spark's Java-regex
    ``rlike`` codegen and the DuckDB oracle's RE2 ``regexp_matches``.
    A leading literal run (trimmed by one char if a quantifier
    follows, since ``spa?`` makes the 'a' optional) is added as a
    ``startswith`` conjunct so the term-sorted parquet dictionary
    still prunes row groups — the FST-anchoring trick Lucene itself
    uses for regexp queries."""
    from .terms import is_valid_terms_regex

    if not is_valid_terms_regex(regex):
        raise ValueError(f"unsupported regexp {regex!r}")
    cond = F.col("term").rlike(f"^(?:{regex})$")
    m = re.match(r"[a-z0-9]*", regex)
    lit = m.group(0) if m else ""
    if regex[len(lit) : len(lit) + 1] in ("?", "*", "+", "{"):
        lit = lit[:-1]
    if lit:
        cond = F.col("term").startswith(lit) & cond
    rows = (
        index.term_stats.where(cond)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def regexp_topk(
    spark: SparkSession,
    index: Index,
    regex: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k for a Lucene ``/regexp/`` query — anchored dictionary
    expansion + disjunctive BM25 (module docstring). Returns (doc_id,
    conv_id, score), score DESC, ties doc_id ASC."""
    terms = expand_regexp(spark, index, regex, max_expansions, cfg)
    return _expansion_topk(spark, index, terms, k, cfg, exclude_docs)


def expand_fuzzy(
    spark: SparkSession,
    index: Index,
    word: str,
    max_edits: int = 1,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
) -> list[str]:
    """Dictionary terms within ``max_edits`` Levenshtein edits of
    ``word`` (the exact term itself included, distance 0 — Lucene
    FuzzyQuery semantics), top ``max_expansions`` by (df DESC, term
    ASC). The length band prunes the dictionary before the O(len^2)
    edit-distance kernel; both predicates are JVM codegen
    (``F.levenshtein`` — no UDF)."""
    w = _normalize_single(word, cfg)
    if not w:
        return []
    n = len(w)
    rows = (
        index.term_stats.where(
            (F.length("term") >= n - max_edits)
            & (F.length("term") <= n + max_edits)
            & (F.levenshtein(F.col("term"), F.lit(w)) <= max_edits)
        )
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def suggest_terms(
    spark: SparkSession,
    index: Index,
    prefix: str,
    n: int = 10,
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """Dictionary completion — the Solr suggester analog: (term, df)
    for terms starting with ``prefix``, ordered (df DESC, term ASC),
    top ``n``. Same |vocab|-bounded dictionary scan as
    :func:`expand_prefix` (startswith pushes into the parquet scan),
    but returns the ranked completion list itself rather than feeding
    a scorer."""
    empty = spark.createDataFrame([], "term string, df long")
    if not is_valid_prefix_pattern(prefix):
        return empty
    p = _normalize_single(prefix.rstrip("*"), cfg)
    if not p:
        return empty
    return (
        index.term_stats.where(F.col("term").startswith(p))
        .select("term", F.col("df").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def suggest_terms_context(
    spark: SparkSession,
    index: Index,
    prefix: str,
    allowed_docs: DataFrame,
    n: int = 10,
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """Context-filtered suggester — Solr's suggester ContextField:
    completions of ``prefix`` ranked by document frequency WITHIN the
    context-matching doc subset (``allowed_docs``: one ``doc_id``
    column), not the whole corpus. A completion whose df lives
    entirely outside the context disappears instead of ranking on
    global popularity.

    Returns (term, df) ordered df DESC, term ASC, top ``n`` — same
    contract as :func:`suggest_terms`, df re-scoped.

    Plan: the prefix filter prunes the postings scan FIRST (postings
    are term-clustered, so startswith reaches parquet row-group
    stats); the pruned posting slice — bounded by the prefix family's
    total df, tiny vs the corpus — then semi-joins the context list
    and re-counts df per term. No broadcast is forced on the context
    side: a selective context AQE-broadcasts itself, a broad one
    (lang=en over half the corpus) sort-merges against the already
    tiny prefix slice; either way nothing corpus-sized shuffles."""
    empty = spark.createDataFrame([], "term string, df long")
    if not is_valid_prefix_pattern(prefix):
        return empty
    p = _normalize_single(prefix.rstrip("*"), cfg)
    if not p:
        return empty
    return (
        index.postings.where(F.col("term").startswith(p))
        .join(allowed_docs.select("doc_id"), "doc_id", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(n)
    )


def mlt_terms(
    spark: SparkSession,
    index: Index,
    doc_id: int,
    max_query_terms: int = 25,
    min_tf: int = 1,
    min_df: int = 1,
    cfg: IndexConfig = DEFAULT,
) -> list[str]:
    """The source document's most informative terms — Lucene
    MoreLikeThis term selection: rank the doc's terms by tf·idf (the
    engine's ONE idf definition, functions/bm25.py), tie-break term
    ASC, cap at ``max_query_terms`` (Lucene default 25). ``min_tf`` /
    ``min_df`` mirror MLT's noise gates.

    Plan: the source doc's postings are a ≤|doc-vocab| row slice
    (doc_id filter → parquet row-group stats pruning); they BROADCAST
    against term_stats for df, so nothing corpus-sized moves."""
    rows = _mlt_term_frame(
        spark, index, doc_id, max_query_terms, min_tf, min_df
    ).collect()
    return [r["term"] for r in rows]


def _mlt_term_frame(
    spark: SparkSession,
    index: Index,
    doc_id: int,
    max_query_terms: int,
    min_tf: int,
    min_df: int,
    min_wl: int = 0,
    max_wl: int | None = None,
) -> DataFrame:
    """Shared MLT term-selection plan: (term, tf, df, w) for the seed
    doc, ranked w DESC / term ASC, capped at ``max_query_terms``.
    ``w = tf * idf`` with the engine's one idf definition.
    ``min_wl``/``max_wl`` are Solr's mlt.minwl/mlt.maxwl word-length
    noise gates (too-short terms are stopword-ish, too-long ones are
    artifacts)."""
    idf = idf_column(query_stats(index, []).n_docs)
    doc_terms = (
        index.postings.where(F.col("doc_id") == int(doc_id)).select("term", "tf")
    )
    wl = F.length("term")
    gate = (F.col("tf") >= min_tf) & (F.col("df") >= min_df) & (wl >= min_wl)
    if max_wl is not None:
        gate = gate & (wl <= max_wl)
    return (
        index.term_stats.select("term", "df")
        .join(F.broadcast(doc_terms), "term")
        .where(gate)
        .withColumn("w", F.col("tf") * idf)
        .orderBy(F.desc("w"), F.asc("term"))
        .limit(max_query_terms)
    )


def mlt_interesting_terms(
    spark: SparkSession,
    index: Index,
    doc_id: int,
    max_query_terms: int = 25,
    min_tf: int = 1,
    min_df: int = 1,
    cfg: IndexConfig = DEFAULT,
    min_wl: int = 0,
    max_wl: int | None = None,
) -> DataFrame:
    """Solr MLT ``mlt.interestingTerms=details``: the seed document's
    expansion vocabulary WITH its weights — the introspection surface
    next to :func:`mlt_topk`'s answer surface. Returns (term, tf, df,
    weight) where ``weight = round(tf * idf, 6)``, ordered by the RAW
    weight DESC, term ASC (raw-order / round-in-output, the float
    discipline every scorer here uses), capped at
    ``max_query_terms``; ``min_wl``/``max_wl`` are the mlt.minwl /
    mlt.maxwl length gates. Same plan as :func:`mlt_terms` — a pruned
    point read of the seed doc's postings broadcast against the
    dictionary; nothing corpus-sized moves."""
    return _mlt_term_frame(
        spark, index, doc_id, max_query_terms, min_tf, min_df, min_wl, max_wl
    ).select(
        "term",
        F.col("tf").cast("int").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round("w", 6).alias("weight"),
    )


def mlt_topk(
    spark: SparkSession,
    index: Index,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 25,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """More-Like-This: top-k documents similar to ``doc_id`` — the
    Solr MLT handler surface. The source doc's tf·idf-ranked term set
    (:func:`mlt_terms`) runs as a disjunctive BM25, with the source
    document itself excluded from the result (MLT never returns its
    own seed). Returns (doc_id, conv_id, score), score DESC, ties
    doc_id ASC."""
    terms = mlt_terms(spark, index, doc_id, max_query_terms, cfg=cfg)
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    scored = _suppress(bm25_scores_terms(spark, index, terms, cfg), exclude_docs)
    return rank_topk(index, scored.where(F.col("doc_id") != int(doc_id)), k)


def _expansion_topk(
    spark: SparkSession,
    index: Index,
    terms: list[str],
    k: int,
    cfg: IndexConfig,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    if not terms:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    scored = _suppress(bm25_scores_terms(spark, index, terms, cfg), exclude_docs)
    return rank_topk(index, scored, k)


def prefix_topk(
    spark: SparkSession,
    index: Index,
    prefix: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k for a prefix query ``pre*`` — expansion + disjunctive
    BM25 (module docstring). Returns (doc_id, conv_id, score), score
    DESC, ties doc_id ASC. ``exclude_docs`` (tombstones) anti-joins
    in-plan before the top-k."""
    terms = expand_prefix(spark, index, prefix, max_expansions, cfg)
    return _expansion_topk(spark, index, terms, k, cfg, exclude_docs)


def fuzzy_topk(
    spark: SparkSession,
    index: Index,
    word: str,
    k: int = 10,
    max_edits: int = 1,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k for a fuzzy query ``word~max_edits`` — expansion +
    disjunctive BM25 (module docstring). Returns (doc_id, conv_id,
    score), score DESC, ties doc_id ASC. ``exclude_docs`` (tombstones)
    anti-joins in-plan before the top-k."""
    terms = expand_fuzzy(spark, index, word, max_edits, max_expansions, cfg)
    return _expansion_topk(spark, index, terms, k, cfg, exclude_docs)


def wildcard_topk(
    spark: SparkSession,
    index: Index,
    pattern: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k for a wildcard query ``s?a*`` — expansion + disjunctive
    BM25 (module docstring). Returns (doc_id, conv_id, score), score
    DESC, ties doc_id ASC. ``exclude_docs`` (tombstones) anti-joins
    in-plan before the top-k."""
    terms = expand_wildcard(spark, index, pattern, max_expansions, cfg)
    return _expansion_topk(spark, index, terms, k, cfg, exclude_docs)


def spellcheck_terms(
    spark: SparkSession,
    index: Index,
    word: str,
    n: int = 5,
    max_edits: int = 2,
    cfg: IndexConfig = DEFAULT,
    only_more_popular: bool = False,
) -> DataFrame:
    """Spellcheck component — Solr's did-you-mean: the closest
    dictionary terms to a (possibly misspelled) word, (term, dist, df)
    ordered (dist ASC, df DESC, term ASC), top ``n``. Distance 0 first
    means "correctly spelled" — Lucene's DirectSpellChecker consults
    the same index dictionary, no side corpus.

    ``only_more_popular`` is Solr's ``spellcheck.onlyMorePopular``:
    keep only suggestions with HIGHER document frequency than the
    query word itself (a word the corpus knows better than yours) —
    the word's own df is 0 when it is out-of-dictionary, so every
    in-dictionary suggestion survives, and the word itself (dist 0,
    df == df) always drops.

    Same |vocab|-bounded plan as :func:`expand_fuzzy`: length band +
    ``F.levenshtein`` are JVM codegen over the stored dictionary; the
    cap lowers to TakeOrderedAndProject; the popularity gate adds one
    scalar (the word's own df — a point read of the dictionary). The
    (dist, df DESC, term) total order makes the suggestion list
    deterministic and oracle-replayable."""
    empty = spark.createDataFrame([], "term string, dist int, df long")
    w = _normalize_single(word, cfg)
    if not w:
        return empty
    ln = len(w)
    out = (
        index.term_stats.where(
            (F.length("term") >= ln - max_edits)
            & (F.length("term") <= ln + max_edits)
        )
        .withColumn("dist", F.levenshtein(F.col("term"), F.lit(w)).cast("int"))
        .where(F.col("dist") <= max_edits)
        .select("term", "dist", F.col("df").cast("long").alias("df"))
    )
    if only_more_popular:
        own = index.term_stats.where(F.col("term") == w).select("df").collect()
        own_df = int(own[0]["df"]) if own else 0
        out = out.where(F.col("df") > F.lit(own_df))
    return out.orderBy(F.asc("dist"), F.desc("df"), F.asc("term")).limit(n)


def spellcheck_collate(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    max_edits: int = 2,
    cfg: IndexConfig = DEFAULT,
) -> DataFrame:
    """Solr ``spellcheck.collate``: correct EACH query word to its top
    dictionary suggestion (dist ASC, df DESC, term ASC — the
    spellcheck_terms order), then run the corrected query and return
    its BM25 top-k. A word already in the dictionary corrects to
    itself (distance 0 sorts first), so well-spelled queries pass
    through unchanged — exactly the collation Solr builds and
    re-queries when ``spellcheck.collateExtendedResults`` asks for
    hits.

    Plan: one |vocab|-bounded suggestion probe per query word (each a
    TakeOrderedAndProject over the dictionary, same as
    spellcheck_terms) collected as ONE row each — word count is
    request-sized, so this is a k-row collect, not corpus work — then
    the standard scorer on the collated terms.
    """
    words = [w for w in (_normalize_single(w, cfg) for w in query.split()) if w]
    collated: list[str] = []
    for w in words:
        row = spellcheck_terms(spark, index, w, n=1, max_edits=max_edits, cfg=cfg).first()
        if row is not None:
            collated.append(row["term"])
    if not collated:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    return rank_topk(
        index, bm25_scores_terms(spark, index, sorted(set(collated)), cfg), k
    )


def synonym_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    synonyms: dict[str, tuple[str, ...]],
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Query-time synonym expansion with Lucene ``SynonymQuery``
    semantics — the SynonymGraphFilter analysis chain a stock Solr
    core applies at query time.

    Each query term heads a synonym GROUP (itself + its mapped
    synonyms). Lucene scores the group as ONE pseudo-term: per doc
    ``tf = sum of member tfs`` and ``df = max of member dfs`` — NOT
    per-member BM25 summed (that would double-count a concept that
    happens to have many surface forms). Members absent from the
    dictionary contribute nothing. Returns the usual (doc_id,
    conv_id, score) top-k, ties doc_id ASC.

    Plan shape: the member->group map is request-sized and broadcasts;
    postings are dictionary-filtered to ALL member terms in one isin
    scan; ONE (doc, group) aggregation merges member postings (tf sum;
    dl is per-doc constant so max is exact); group df is the max over
    members of the query's one stats read (plus one collected row per
    phrase member) and its idf is the scorers' ``idf_scalar``; the
    per-doc fold and top-k are the standard scorer's.

    MULTI-WORD members ("ml" -> "machine learning") take the
    SynonymGraphFilter path: a phrase member contributes its exact
    phrase occurrence count as tf (the positional-intersection kernel
    :func:`~.query._phrase_counts` — one doc-clustered shuffle of the
    phrase terms' postings) and #docs-containing-the-phrase as its df
    leg; both union into the SAME group aggregation, so a concept is
    still scored as one pseudo-term however many words its surface
    forms have.
    """
    base = sorted(set(query_terms(query, cfg)))
    if not base:
        return spark.createDataFrame([], "doc_id long, conv_id string, score double")
    rows, phrase_members = [], []
    for anchor in base:
        for member in {anchor, *synonyms.get(anchor, ())}:
            mts = query_terms(member, cfg)
            if len(mts) > 1:
                phrase_members.append((anchor, mts))
            elif mts:
                rows.append((anchor, mts[0]))
    gmap = F.broadcast(
        spark.createDataFrame(sorted(set(rows)), "grp string, term string")
    )
    stats = query_stats(index, [m for _, m in rows])
    # group df = max member df (SynonymQuery's docFreq)
    group_df: dict[str, int] = {}
    for g, m in rows:
        if m in stats.df:
            group_df[g] = max(group_df.get(g, 0), stats.df[m])
    members = sorted({m for _, m in rows})
    # per-doc (grp, tf, dl) legs: single-word members merge postings...
    legs = (
        index.postings.where(F.col("term").isin(members))
        .join(gmap, "term")
        .select(
            "grp",
            "doc_id",
            F.col("tf").cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"),
        )
    )
    # ...and each phrase member contributes its occurrence counts, its
    # df leg being the number of docs holding the phrase
    if phrase_members:
        from .query import _phrase_counts

        phrase_dfs = []
        for anchor, mts in sorted(
            {(a, tuple(ts)) for a, ts in phrase_members}
        ):
            pc = _phrase_counts(index, list(mts)).select(
                F.lit(anchor).alias("grp"),
                "doc_id",
                F.col("phrase_tf").cast("long").alias("tf"),
                F.col("dl").cast("long").alias("dl"),
            ).where(F.col("tf") > 0)
            # pc feeds both the tf leg and its df leg — pin it so the
            # positional-intersection kernel runs once per phrase
            pc = pc.persist()
            legs = legs.unionByName(pc.select("grp", "doc_id", "tf", "dl"))
            phrase_dfs.append(
                pc.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("df"))
            )
        for r in reduce(DataFrame.unionByName, phrase_dfs).collect():
            group_df[r["grp"]] = max(group_df.get(r["grp"], 0), r["df"])
    scored = (
        legs.groupBy("doc_id", "grp")
        .agg(F.sum("tf").alias("tf"), F.max("dl").alias("dl"))
        .withColumnRenamed("grp", "term")
        .where(F.col("term").isin(sorted(group_df)))
        .withColumn(
            "term_score",
            bm25_term_score(
                F.col("tf"),
                term_lookup(
                    {g: idf_scalar(stats.n_docs, d) for g, d in group_df.items()}
                ),
                stats.avgdl,
                cfg,
            ),
        )
        .groupBy("doc_id")
        .agg(sorted_term_fold().alias("score"))
    )
    return rank_topk(index, _suppress(scored, exclude_docs), k)
