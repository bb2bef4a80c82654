"""Batched IVF store probe (round-5, operators/ann_store.
ivf_batch_topk_stored): one partition-pruned scan for Q queries,
point-probe parity, full-probe == brute."""

from __future__ import annotations

import contextlib
import io

import pytest

from solr_ocr_processor_spark.operators.ann import cosine_topk
from solr_ocr_processor_spark.operators.ann_store import (
    ivf_batch_topk_stored,
    ivf_topk_stored,
)


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    import __spark_entry__ as e

    return e._embs(spark, sf_dir)


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    import __spark_entry__ as e

    return e._ann_store(spark, sf_dir)


def _qv(embs, vid):
    return list(embs.where(f"vec_id = {vid}").first()["embedding"])


def test_batch_equals_point_probe_per_query(spark, embs, store):
    qids = [0, 17, 100]
    got = ivf_batch_topk_stored(
        spark, store, [(q, _qv(embs, q)) for q in qids], k=10, nprobe=4
    ).collect()
    for q in qids:
        point = [
            (r["id"], r["cos"])
            for r in ivf_topk_stored(spark, store, _qv(embs, q), k=10, nprobe=4)
            .collect()
        ]
        mine = [(r["id"], r["cos"]) for r in got if r["qid"] == q]
        assert mine == point, q


def test_full_probe_equals_brute(spark, embs, store):
    qids = [3, 42]
    got = ivf_batch_topk_stored(
        spark,
        store,
        [(q, _qv(embs, q)) for q in qids],
        k=5,
        nprobe=store.n_centroids,
    ).collect()
    for q in qids:
        exact = [
            (r["id"], r["cos"]) for r in cosine_topk(embs, _qv(embs, q), 5).collect()
        ]
        mine = [(r["id"], r["cos"]) for r in got if r["qid"] == q]
        assert mine == exact, q


def test_one_pruned_scan_for_all_queries(spark, embs, store):
    df = ivf_batch_topk_stored(
        spark, store, [(q, _qv(embs, q)) for q in (0, 17, 100, 333)], k=5, nprobe=4
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("ReadSchema:") == 1  # ONE scan of the ivf table
    # and it prunes to the probed list partitions
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters"
    )[1][:200]


def test_lsh_batch_equals_point_probe_per_query(spark, embs, store):
    from solr_ocr_processor_spark.operators.ann_store import (
        lsh_batch_topk_stored,
        lsh_topk_stored,
    )

    qids = [0, 17, 100]
    got = lsh_batch_topk_stored(
        spark, store, [(q, _qv(embs, q)) for q in qids], k=10, radius=1
    ).collect()
    for q in qids:
        point = [
            (r["id"], r["cos"])
            for r in lsh_topk_stored(spark, store, _qv(embs, q), k=10, radius=1)
            .collect()
        ]
        mine = [(r["id"], r["cos"]) for r in got if r["qid"] == q]
        assert mine == point, q


def test_lsh_batch_one_scan(spark, embs, store):
    from solr_ocr_processor_spark.operators.ann_store import (
        lsh_batch_topk_stored,
    )

    df = lsh_batch_topk_stored(
        spark, store, [(q, _qv(embs, q)) for q in (0, 17, 100, 333)], k=5
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("ReadSchema:") == 1  # ONE scan of the lsh table
    assert "PartitionFilters" in plan


def test_batch_probes_of_no_queries_are_typed_empty(spark, store):
    from solr_ocr_processor_spark.operators.ann_store import (
        lsh_batch_topk_stored,
    )

    for probe in (ivf_batch_topk_stored, lsh_batch_topk_stored):
        df = probe(spark, store, [], k=5)
        assert df.dtypes == [("qid", "bigint"), ("id", "bigint"), ("cos", "double")]
        assert df.collect() == []
