"""Nested boolean query grammar: ``a AND (b OR c) NOT d``.

The reference delegates full Lucene query syntax to Solr — it sends
user query strings straight through (app/process/solr.go:48-49,69-70,
102-103) and Solr's parser handles nested AND/OR/NOT composition. The
flat verbs in :mod:`query` (term / AND-list / phrase / NOT) cover the
shapes the reference's own tests exercise; this module closes the gap
to what a real user of that delegated surface writes: arbitrarily
nested boolean expressions over terms.

Grammar (uppercase keywords are operators, Lucene-style; anything else
is a term normalized by the build tokenizer)::

    expr   := or
    or     := and (OR and)*
    and    := unary ((AND | NOT) unary)*     # "x NOT y" == x AND NOT y
    unary  := NOT unary | atom
    atom   := '(' expr ')' | WORD

AND binds tighter than OR (Lucene precedence). A WORD that the
analyzer splits into several tokens (e.g. "state-of-the-art") becomes
the AND of its tokens — build-time and query-time analysis must match
(reference rule, app/assets/build/config.yml:34-39).

**Pure-negative clauses are rejected** (same restriction as Lucene's
BooleanQuery: MUST_NOT needs a positive context). Formally every OR
branch must be "positive" — match only docs containing at least one
non-negated term — so the matching set is always a subset of the docs
holding >= 1 positive leaf term, and evaluation never needs the
complement of a posting list over a 10^12-doc corpus.

Execution is ONE posting-table pass, however deep the expression:

1. dictionary-filter the postings to ALL leaf terms (isin -> parquet
   row-group pruning), each row's idf from the query's one stats
   read (operators/score.term_scores);
2. one hash aggregation per doc_id produces (a) the BM25 sum over the
   POSITIVE leaf occurrences — folded in sorted-term order for the
   bit-deterministic score contract (operators/score.py) — and (b) the
   set of leaf terms present;
3. the AST compiles to a pure column predicate over
   ``array_contains(terms_present, leaf)`` — whole-stage codegen, no
   UDF, no per-node join — followed by TakeOrderedAndProject top-k.

Scoring matches Lucene's boolean scorer shape: every positive leaf
that matches contributes its BM25 term score once; negated terms gate
but never score.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from ..functions.tokenizer import query_terms
from .build import Index
from .score import _suppress, query_stats, rank_topk, sorted_term_fold, term_scores


# --- AST -------------------------------------------------------------------


@dataclass(frozen=True)
class Term:
    term: str


@dataclass(frozen=True)
class And:
    children: tuple


@dataclass(frozen=True)
class Or:
    children: tuple


@dataclass(frozen=True)
class Not:
    child: object


class BooleanSyntaxError(ValueError):
    """Malformed or pure-negative boolean query."""


_TOKEN_RE = re.compile(r"\(|\)|[^\s()]+")


def parse_boolean(query: str, cfg: IndexConfig = DEFAULT):
    """Parse a nested boolean query string into the AST, normalizing
    leaf words through the build tokenizer. Raises
    :class:`BooleanSyntaxError` on malformed input, a pure-negative
    expression, or a query with no indexable positive term."""
    toks = _TOKEN_RE.findall(query)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        branches = [parse_and()]
        while peek() == "OR":
            take()
            branches.append(parse_and())
        return branches[0] if len(branches) == 1 else Or(tuple(branches))

    def parse_and():
        parts = [parse_unary()]
        while peek() in ("AND", "NOT"):
            op = take()
            nxt = parse_unary()
            parts.append(Not(nxt) if op == "NOT" else nxt)
        return parts[0] if len(parts) == 1 else And(tuple(parts))

    def parse_unary():
        if peek() == "NOT":
            take()
            return Not(parse_unary())
        return parse_atom()

    def parse_atom():
        t = peek()
        if t is None:
            raise BooleanSyntaxError("unexpected end of query")
        if t == "(":
            take()
            node = parse_or()
            if peek() != ")":
                raise BooleanSyntaxError("missing ')'")
            take()
            return node
        if t in (")", "AND", "OR"):
            raise BooleanSyntaxError(f"unexpected {t!r}")
        take()
        terms = query_terms(t, cfg)
        if not terms:
            raise BooleanSyntaxError(f"word {t!r} normalizes to no term")
        if len(terms) == 1:
            return Term(terms[0])
        return And(tuple(Term(x) for x in terms))

    node = parse_or()
    if pos != len(toks):
        raise BooleanSyntaxError(f"trailing input at {toks[pos]!r}")
    if not _is_positive(node):
        raise BooleanSyntaxError(
            "pure-negative (sub)query: every OR branch needs a "
            "non-negated term (Lucene MUST_NOT rule)"
        )
    return node


def _is_positive(node) -> bool:
    """True iff the node can only match docs containing >= 1
    non-negated leaf term (so evaluation never needs a posting-list
    complement). AND needs one positive child; OR needs all."""
    if isinstance(node, Term):
        return True
    if isinstance(node, Not):
        return False
    if isinstance(node, And):
        return any(_is_positive(c) for c in node.children)
    return all(_is_positive(c) for c in node.children)


def leaf_terms(node) -> tuple[set, set]:
    """(all leaf terms, positive leaf terms). A term is *positive* if
    it occurs anywhere under an even number of NOTs — those are the
    occurrences that score, Lucene-style."""
    allt: set = set()
    post: set = set()

    def walk(n, neg: bool):
        if isinstance(n, Term):
            allt.add(n.term)
            if not neg:
                post.add(n.term)
        elif isinstance(n, Not):
            walk(n.child, not neg)
        else:
            for c in n.children:
                walk(c, neg)

    walk(node, False)
    return allt, post


def _predicate(node, present: Column) -> Column:
    """Compile the AST to a boolean column over the per-doc
    ``terms_present`` array — pure codegen expressions."""
    if isinstance(node, Term):
        return F.array_contains(present, node.term)
    if isinstance(node, Not):
        return ~_predicate(node.child, present)
    if isinstance(node, And):
        out = _predicate(node.children[0], present)
        for c in node.children[1:]:
            out = out & _predicate(c, present)
        return out
    out = _predicate(node.children[0], present)
    for c in node.children[1:]:
        out = out | _predicate(c, present)
    return out


# --- execution -------------------------------------------------------------


def boolean_topk(
    spark: SparkSession,
    index: Index,
    query: str,
    k: int = 10,
    cfg: IndexConfig = DEFAULT,
    exclude_docs: DataFrame | None = None,
) -> DataFrame:
    """Top-k for a nested boolean query — see module docstring for the
    one-scan plan. Returns (doc_id, conv_id, score), score desc ties
    doc_id asc; ``exclude_docs`` (tombstones) anti-joins in-plan."""
    node = parse_boolean(query, cfg)
    allt, post = leaf_terms(node)
    terms = sorted(allt)
    # Shared score contract (term_scores / sorted_term_fold live in
    # operators/score.py — ONE home for the idf, associativity and
    # fold-order bit-identity rules). Only POSITIVE leaves contribute
    # score; negative-only leaves still count for presence.
    per_term = term_scores(index, query_stats(index, terms), terms, cfg).select(
        "doc_id",
        "term",
        F.when(F.col("term").isin(sorted(post)), F.col("term_score"))
        .otherwise(F.lit(0.0))
        .alias("term_score"),
    )
    scored = per_term.groupBy("doc_id").agg(
        sorted_term_fold().alias("score"),
        F.collect_set("term").alias("terms_present"),
    )
    scored = _suppress(scored, exclude_docs)
    return rank_topk(
        index, scored.where(_predicate(node, F.col("terms_present"))), k
    )
