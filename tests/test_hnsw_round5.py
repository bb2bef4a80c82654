"""Round-5 HNSW surfaces (operators/hnsw.py): batch query single
store pass, pinned query session, conflict-safe append (segment
rebuild), selective tiered merge, alg-4 diversity recall."""

from __future__ import annotations

import contextlib
import io
import os

import numpy as np
import pytest

from solr_ocr_processor_spark.operators.ann import cosine_topk
from solr_ocr_processor_spark.operators.hnsw import (
    HnswQuerySession,
    append_hnsw_store,
    build_hnsw_store,
    hnsw_batch_topk,
    hnsw_merge_plan,
    hnsw_topk_stored,
    merge_hnsw_tiered,
)


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    import __spark_entry__ as e

    return e._embs(spark, sf_dir)


@pytest.fixture(scope="module")
def store(spark, embs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hnsw5"))
    return build_hnsw_store(spark, embs, root, dim=64, seg_size=64)


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _qv(embs, vid):
    return list(embs.where(f"vec_id = {vid}").first()["embedding"])


def test_batch_topk_exhaustive_equals_per_query_brute(spark, embs, store):
    qids = [0, 17, 100]
    got = hnsw_batch_topk(
        spark,
        store,
        [(q, _qv(embs, q)) for q in qids],
        k=10,
        ef=store.seg_size,
    ).collect()
    for q in qids:
        exact = [
            (r["id"], r["cos"]) for r in cosine_topk(embs, _qv(embs, q), 10).collect()
        ]
        mine = [(r["id"], r["cos"]) for r in got if r["qid"] == q]
        assert mine == exact, q


def test_batch_topk_is_one_store_pass(spark, embs, store):
    """The whole point of the batch path: Q queries, ONE scan of the
    nodes table and ONE of the edges table in the plan (a per-query
    loop would show 2Q scans)."""
    queries = [(q, _qv(embs, q)) for q in (0, 17, 100, 201, 333)]
    plan = _plan_text(hnsw_batch_topk(spark, store, queries, k=5, ef=16))
    # one detail block per scan node ("Scan parquet" also appears in
    # the tree summary, so count the per-scan ReadSchema lines)
    scans = plan.count("ReadSchema:")
    assert scans == 2, plan


def test_query_session_hits_cache_not_parquet(spark, embs, store):
    with HnswQuerySession(spark, store, partitions=8) as sess:
        qv = _qv(embs, 7)
        a = sess.topk(qv, k=10, ef=store.seg_size).collect()
        b = hnsw_topk_stored(spark, store, qv, k=10, ef=store.seg_size).collect()
        assert [(r["id"], r["cos"]) for r in a] == [(r["id"], r["cos"]) for r in b]
        plan = _plan_text(sess.topk(qv, k=10, ef=16))
        # served from the pinned cache...
        assert "InMemoryTableScan" in plan
        # ...with the grouped kernel consuming the cached partitioning
        # directly: no exchange between the kernel and the cache scan
        lines = plan.splitlines()
        kernel_i = next(
            i for i, ln in enumerate(lines) if "FlatMapGroupsInPandas" in ln
        )
        cache_i = next(
            i for i, ln in enumerate(lines)
            if i > kernel_i and "InMemoryTableScan" in ln
        )
        between = lines[kernel_i:cache_i]
        assert not any("Exchange" in ln for ln in between), plan


def test_append_inside_existing_segment_rebuilds_it(spark, embs, tmp_path):
    """The round-4 advisor finding: ids landing INSIDE an existing
    segment's range must rebuild that segment, not silently append a
    second disconnected graph. Even/odd interleave: append-then-query
    must equal a fresh build over the union, edge-table-identical."""
    even = embs.where("vec_id % 2 = 0")
    odd = embs.where("vec_id % 2 = 1")
    r1, r2 = str(tmp_path / "inc"), str(tmp_path / "fresh")
    s_inc = build_hnsw_store(spark, even, r1, dim=64, seg_size=64)
    n = append_hnsw_store(spark, s_inc, odd)
    assert n == odd.count()
    assert append_hnsw_store(spark, s_inc, odd) == 0  # idempotent re-send
    s_fresh = build_hnsw_store(spark, embs, r2, dim=64, seg_size=64)
    e1 = spark.read.parquet(s_inc.path("edges")).orderBy(
        "seg", "level", "src", "dst"
    ).collect()
    e2 = spark.read.parquet(s_fresh.path("edges")).orderBy(
        "seg", "level", "src", "dst"
    ).collect()
    assert e1 == e2 and len(e1) > 0
    qv = _qv(embs, 4)
    a = hnsw_topk_stored(spark, s_inc, qv, k=10, ef=64).collect()
    b = hnsw_topk_stored(spark, s_fresh, qv, k=10, ef=64).collect()
    assert [(r["id"], r["cos"]) for r in a] == [(r["id"], r["cos"]) for r in b]


def test_tiered_merge_selective_and_result_invariant(spark, embs, tmp_path):
    """Policy-driven merge: only complete merge_factor groups of
    similar-sized segments rebuild; exhaustive query results are
    invariant; replaying the merge is a no-op (the manifest no longer
    has a complete tier group)."""
    root = str(tmp_path / "tm")
    s = build_hnsw_store(spark, embs, root, dim=64, seg_size=64)
    segs_before = {
        r["seg"]
        for r in spark.read.parquet(s.path("nodes")).select("seg").distinct().collect()
    }
    plan = hnsw_merge_plan(spark, s, merge_factor=4).collect()
    assert plan, "expected at least one complete 4-group"
    planned = {int(x) for row in plan for x in row["seg_ids"].split(",")}
    qv = _qv(embs, 0)
    before = hnsw_topk_stored(spark, s, qv, k=10, ef=4096).collect()

    n = merge_hnsw_tiered(spark, s, merge_factor=4)
    assert n == len(plan)
    segs_after = {
        r["seg"]
        for r in spark.read.parquet(s.path("nodes")).select("seg").distinct().collect()
    }
    # members gone, content-addressed negative ids in, leftovers kept
    assert segs_before - planned <= segs_after
    assert not (planned & segs_after)
    assert all(x < 0 for x in segs_after - segs_before)
    assert len(segs_after) == len(segs_before) - len(planned) + len(plan)
    # node multiset unchanged (no loss, no duplication)
    n_before = len(segs_before) and spark.read.parquet(s.path("nodes")).count()
    ids = spark.read.parquet(s.path("nodes")).groupBy("id").count()
    assert ids.where("count > 1").count() == 0

    after = hnsw_topk_stored(spark, s, qv, k=10, ef=4096).collect()
    assert [(r["id"], r["cos"]) for r in after] == [
        (r["id"], r["cos"]) for r in before
    ]
    assert merge_hnsw_tiered(spark, s, merge_factor=4) in (0, 1)  # converges
    del n_before


def _clustered_embs(spark, n=256, dim=16, n_clusters=8):
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(n_clusters, dim)) * 4.0
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        rows.append((i, [float(x) for x in c + rng.normal(size=dim) * 0.3]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_diversity_heuristic_improves_clustered_recall(spark, tmp_path):
    """Malkov alg 4 exists to keep links crossing cluster boundaries:
    on a clustered corpus at approximate ef, the diversified graph's
    recall must be at least the plain top-M graph's (and is strictly
    better on this fixed corpus); at exhaustive ef both are exact."""
    embs = _clustered_embs(spark)
    qv = [float(x) for x in np.asarray(
        embs.where("vec_id = 3").first()["embedding"]
    ) + 0.05]
    exact = {r["id"] for r in cosine_topk(embs, qv, 10).collect()}

    recalls = {}
    for flag in (True, False):
        root = str(tmp_path / f"d{int(flag)}")
        s = build_hnsw_store(
            spark, embs, root, dim=16, seg_size=256, m=4,
            ef_construction=8, diversify=flag,
        )
        got = {
            r["id"]
            for r in hnsw_topk_stored(spark, s, qv, k=10, ef=10).collect()
        }
        recalls[flag] = len(got & exact)
        full = hnsw_topk_stored(spark, s, qv, k=10, ef=256).collect()
        assert {r["id"] for r in full} == exact  # exactness regardless
    assert recalls[True] >= recalls[False]
    assert recalls[True] >= 7


def test_tiered_merge_twice_keeps_every_node(spark, tmp_path):
    """16 equal segments merge into 4, then the 4 merge into 1. The
    second merge's content-addressed id -(min id)-1 equals the id of
    the merged segment that holds the min id, so the member clean-up
    must not delete the partition the merge has just written."""
    embs = _clustered_embs(spark, n=128, dim=8)
    qv = [float(x) for x in embs.where("vec_id = 5").first()["embedding"]]
    s = build_hnsw_store(spark, embs, str(tmp_path / "tm2"), dim=8, seg_size=8)
    before = hnsw_topk_stored(spark, s, qv, k=10, ef=4096).collect()

    def segs():
        nodes = spark.read.parquet(s.path("nodes"))
        return sorted(r["seg"] for r in nodes.select("seg").distinct().collect())

    assert len(segs()) == 16
    assert merge_hnsw_tiered(spark, s, merge_factor=4) == 4
    assert segs() == [-97, -65, -33, -1]
    assert merge_hnsw_tiered(spark, s, merge_factor=4) == 1
    assert segs() == [-1]
    nodes = spark.read.parquet(s.path("nodes"))
    assert nodes.count() == 128
    assert nodes.select("id").distinct().count() == 128
    after = hnsw_topk_stored(spark, s, qv, k=10, ef=4096).collect()
    assert [(r["id"], r["cos"]) for r in after] == [
        (r["id"], r["cos"]) for r in before
    ]


def test_tiered_merge_jobs_do_not_grow_with_groups(spark, tmp_path):
    """Every planned group rebuilds in one pass: a 4-group merge runs as
    many Spark jobs as a 1-group merge (counted by job group)."""
    sc = spark.sparkContext

    def merge_jobs(n_groups):
        embs = _clustered_embs(spark, n=32 * n_groups, dim=8)
        s = build_hnsw_store(
            spark, embs, str(tmp_path / f"g{n_groups}"), dim=8, seg_size=8
        )
        group = f"tiered-merge-{n_groups}"
        sc.setJobGroup(group, group)
        try:
            assert merge_hnsw_tiered(spark, s, merge_factor=4) == n_groups
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = merge_jobs(1)
    assert one > 0
    assert merge_jobs(4) == one
