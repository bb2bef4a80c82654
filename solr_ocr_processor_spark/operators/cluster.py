"""Search-result clustering — the Solr *clustering component*
(Carrot2 contrib) analog: group the result page's documents by theme
so a user scans clusters, not a flat list.

Carrot2's Lingo/STC are anytime heuristics with randomized linear
algebra — unreproducible across engines by construction. The operator
here keeps the COMPONENT CONTRACT (top-k docs in, labeled clusters
out, labels drawn from the docs' own salient vocabulary) with a
deterministic core: each result doc is labeled by its most
discriminative term (max tf·idf over the doc's vocabulary, the MLT
selection rule — one definition, operators/expand.py), and a cluster
is a label shared by >= min_docs results. Singleton labels fall into
Carrot2's "Other Topics" bucket (label NULL), exactly how the real
component presents unclustered leftovers.

Spark-first shape: the page is k rows; its postings slice is an
isin-pruned point read (k docs' vocabularies, corpus-independent);
the per-doc argmax is ONE max(struct(...)) aggregate — no window, no
per-doc sort; the idf side is the broadcast dictionary. Cost after
the underlying query: O(k · avg doc vocab), driver-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import idf_column
from .build import Index
from .score import query_stats


def result_clusters(
    spark: SparkSession,
    index: Index,
    top: DataFrame,
    min_docs: int = 2,
) -> DataFrame:
    """Cluster a result page by each doc's top tf·idf term.

    ``top``: (doc_id, ...) — the page to cluster (any top-k output).
    Returns (label, doc_id) ordered label ASC NULLS LAST, doc_id ASC:
    ``label`` is the shared top-term for clusters with >= ``min_docs``
    members, NULL for the "Other Topics" remainder.

    Per-doc label selection = argmax over (tf·idf, term ASC) — the
    raw-order float discipline the MLT family already proves
    engine-portable; the integer tie-break is the term string."""
    idf = idf_column(query_stats(index, []).n_docs)
    page = top.select("doc_id")
    slice_ = index.postings.join(F.broadcast(page), "doc_id").select(
        "doc_id", "term", "tf"
    )
    scored = slice_.join(
        F.broadcast(index.term_stats.select("term", "df")), "term"
    ).select("doc_id", "term", (F.col("tf") * idf).alias("w"))
    # argmax with term-ASC ties: max(struct(w, neg-ordered term)) needs
    # an orderable inverse for strings — instead keep (w DESC, term ASC)
    # via min(struct(-w, term)).
    lab = (
        scored.groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("w")).alias("nw"), F.col("term"))).alias("b"))
        .select("doc_id", F.col("b.term").alias("label"))
    )
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        lab.join(F.broadcast(sizes), "label")
        .select(
            F.when(F.col("n") >= F.lit(int(min_docs)), F.col("label")).alias(
                "label"
            ),
            "doc_id",
        )
        .orderBy(F.asc_nulls_last("label"), F.asc("doc_id"))
    )
