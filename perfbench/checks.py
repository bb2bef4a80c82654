"""Output checks. Every check returns a list of problems (empty = pass)
and runs outside the timed region.

- WAND results are compared with the in-repo exhaustive oracle
  (``oracle.oracle_bm25_topk`` over ``oracle_materialize``): same
  conv_id order and scores within ``ORACLE_TOL``. The oracle sums a
  document's term scores in query order while the engine folds them in
  sorted-term order, so for a query whose terms are not sorted the last
  bit can differ; the repository's own rank-identity test allows the
  same tolerance. Bit-identity is checked against ``Reference``.
- WAND, AND, phrase and batch (OR-bag) results are compared bit for bit
  with ``Reference``, a small pure-Python scorer written here from the
  documented formulas: the shared tokenizer, Lucene idf/tfnorm with the
  engine's associativity, per-doc sums folded in sorted-term order, and
  (score DESC, doc_id ASC) ranking.
- Tombstone checks: no tombstoned doc id may appear in a result.
- Build checks: corpus n_docs / total_tokens and a sample of term df
  must equal counts taken from the generated data.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from solr_ocr_processor_spark.config import DEFAULT
from solr_ocr_processor_spark.functions.tokenizer import query_terms, tokenize_text
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize


def ranked(rows) -> list[tuple[str, float]]:
    """(conv_id, score) pairs from Spark Rows or a pandas frame."""
    if isinstance(rows, pd.DataFrame):
        return list(zip(rows["conv_id"], rows["score"].astype(float)))
    return [(r["conv_id"], float(r["score"])) for r in rows]


ORACLE_TOL = 1e-9


def rank_mismatch(got: list, want: list, what: str, tol: float = 0.0) -> list[str]:
    """Same length, same conv_id order, and scores equal — bit for bit
    when ``tol`` is 0, else within ``tol``."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for i, ((gc, gs), (wc, ws)) in enumerate(zip(got, want)):
        if gc != wc:
            return [f"{what}: rank {i + 1} is {gc}, expected {wc}"]
        if (gs.hex() != ws.hex()) if tol == 0.0 else not abs(gs - ws) < tol:
            return [f"{what}: rank {i + 1} score {gs!r}, expected {ws!r}"]
    return []


def tombstone_leak(doc_ids, dead: set[int], what: str) -> list[str]:
    leaked = sorted(set(int(d) for d in doc_ids) & dead)
    return [f"{what}: tombstoned doc ids {leaked[:5]} in result"] if leaked else []


class Reference:
    """Exhaustive scorer over one corpus, tokenized once."""

    def __init__(self, transcripts: pd.DataFrame, cfg=DEFAULT):
        self.cfg = cfg
        self.docs = oracle_materialize(transcripts)
        self.terms = [
            [t for _, t, _, _ in tokenize_text(text, cfg)] for text in self.docs["doc_text"]
        ]
        self.tfs = [Counter(ts) for ts in self.terms]
        self.dls = [len(ts) for ts in self.terms]
        self.n_docs = len(self.terms)
        self.total_tokens = sum(self.dls)
        self.avgdl = self.total_tokens / self.n_docs
        self.df = Counter(t for tf in self.tfs for t in tf)
        self.conv = list(self.docs["conv_id"])

    def oracle_topk(self, query: str, k: int) -> list[tuple[str, float]]:
        """The in-repo oracle itself (re-tokenizes the corpus per call)."""
        return ranked(oracle_bm25_topk(self.docs, query, k, self.cfg))

    def _idf(self, term: str) -> float:
        df = self.df[term]
        return math.log1p((self.n_docs - df + 0.5) / (df + 0.5))

    def _tfnorm(self, tf: float, dl: int) -> float:
        k1, b = self.cfg.k1, self.cfg.b
        return (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / self.avgdl))

    def _top(self, scored: dict[int, float], k: int) -> list[tuple[str, float]]:
        best = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(self.conv[d], s) for d, s in best]

    def bag_topk(self, query: str, k: int, need_all: bool = False) -> list:
        """OR bag (or AND with ``need_all``), sorted-term fold."""
        terms = sorted(query_terms(query, self.cfg))
        idf = {t: self._idf(t) for t in terms if self.df[t]}
        if need_all and len(idf) < len(terms):
            return []
        scored = {}
        for d, tf in enumerate(self.tfs):
            hit = [t for t in terms if t in idf and tf[t]]
            if not hit or (need_all and len(hit) < len(terms)):
                continue
            s = 0.0
            for t in hit:
                s += idf[t] * self._tfnorm(tf[t], self.dls[d])
            scored[d] = s
        return self._top(scored, k)

    def phrase_topk(self, phrase: str, k: int) -> list:
        """Lucene-style phrase score: (sum idf) * tfnorm(phrase_tf)."""
        p = [t for _, t, _, _ in tokenize_text(phrase, self.cfg)]
        if not p or any(not self.df[t] for t in p):
            return []
        sum_idf = sum(self._idf(t) for t in p)
        scored = {}
        n = len(p)
        for d, ts in enumerate(self.terms):
            ptf = sum(1 for i in range(len(ts) - n + 1) if ts[i : i + n] == p)
            if ptf:
                scored[d] = sum_idf * self._tfnorm(float(ptf), self.dls[d])
        return self._top(scored, k)

    def build_problems(self, corpus_row, df_rows) -> list[str]:
        """Compare the store's corpus row and sampled term_stats rows."""
        out = []
        if int(corpus_row["n_docs"]) != self.n_docs:
            out.append(f"corpus.n_docs {corpus_row['n_docs']} != {self.n_docs}")
        if int(corpus_row["total_tokens"]) != self.total_tokens:
            out.append(
                f"corpus.total_tokens {corpus_row['total_tokens']} != {self.total_tokens}"
            )
        for r in df_rows:
            if int(r["df"]) != self.df[r["term"]]:
                out.append(f"df[{r['term']}] {r['df']} != {self.df[r['term']]}")
        return out

    def sample_terms(self, n: int) -> list[str]:
        """Deterministic spread of terms across the df order."""
        by_df = sorted(self.df, key=lambda t: (-self.df[t], t))
        step = max(1, len(by_df) // n)
        return by_df[::step][:n]
