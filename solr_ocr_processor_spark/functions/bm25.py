"""BM25 scoring math — ONE definition shared by the Spark engine (its
column spelling is score.bm25_term_score, which also computes the
block-max bounds) and the in-repo oracle scorer, so rank identity is
never broken by two drifting formulas (SURVEY §7.3).

Lucene/Solr (the engine behind the reference) formula, k1=1.2 b=0.75:

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfnorm(t,d) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(q,d)  = sum_t idf(t) * tfnorm(t, d)

All float64. Ties broken by doc_id ASC (Lucene convention).

Every query scorer takes its idf from :func:`idf_scalar` (Python's
``math.log1p``). Spark's ``log1p`` (the JVM's ``StrictMath.log1p``)
disagrees with it in the last bit for some (N, df) pairs, so a query
idf computed as a Spark column would break rank identity with the
oracle and WAND. :func:`idf_column` is only for corpus-wide term
weighting that must stay in the plan (MLT term selection, result
clustering); no BM25 query score reads it. The DuckDB twins in
``__spark_entry__.oracle_sql`` import nothing from here: each spells
the formulas inline in its own SQL text and is compared at 6 dp.
"""

from __future__ import annotations

import math

import numpy as np


def idf_scalar(N: int, df: int) -> float:
    return math.log1p((N - df + 0.5) / (df + 0.5))


def idf_column(n_docs: int):
    """The idf formula as a Spark column over the ``df`` column, for
    weighting every dictionary term without collecting the dictionary."""
    from pyspark.sql import functions as F

    df = F.col("df")
    return F.log1p((F.lit(n_docs) - df + F.lit(0.5)) / (df + F.lit(0.5)))


def tf_norm(tf, dl, avgdl: float, k1: float = 1.2, b: float = 0.75):
    """Vectorized tf normalization (numpy arrays or scalars)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
