"""The benchmark's own tests: seeded inputs, the output checker, and the
tracer's job accounting.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.checks import ORACLE_TOL, Reference, rank_mismatch, tombstone_leak

N = 60  # conversations: small, but with every query kind answerable


def _files(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.generate(5, N, str(tmp_path / "a"), gen.MIXES["churn"], churn_rounds=1)
    gen.generate(5, N, str(tmp_path / "b"), gen.MIXES["churn"], churn_rounds=1)
    gen.generate(6, N, str(tmp_path / "c"), gen.MIXES["churn"], churn_rounds=1)
    assert set(a) == {"corpus", "queries", "churn_1"}
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a")["corpus.parquet"] != _files(tmp_path / "c")["corpus.parquet"]


def test_inputs_have_the_documented_shapes(tmp_path):
    p = gen.generate(3, N, str(tmp_path), gen.MIXES["search"], churn_rounds=1)
    ts = pq.read_schema(p["corpus"]).field("ts").type
    assert str(ts) == "timestamp[us, tz=UTC]"  # TIMESTAMP, not TIMESTAMP_NTZ
    c = pd.read_parquet(p["corpus"])
    assert (c["text"] == "").any() and (c["text"].str.strip() == "").sum() > (c["text"] == "").sum()
    assert c["text"].str.contains("[^\x00-\x7f]").any()
    assert c.groupby("conv_id").size().between(2, 40).all()
    q = pd.read_parquet(p["queries"])
    assert list(q["kind"].value_counts().sort_index().items()) == sorted(
        (k, n) for k, n in gen.MIXES["search"]
    )
    churned = pd.read_parquet(p["churn_1"])
    m = max(1, round(N * gen.CHURN_SHARE))
    assert churned["conv_id"].nunique() == N
    assert len(set(c["conv_id"]) - set(churned["conv_id"])) == m


@pytest.fixture(scope="module")
def ref(tmp_path_factory):
    d = tmp_path_factory.mktemp("ref")
    p = gen.generate(9, N, str(d), gen.MIXES["search"])
    return Reference(pd.read_parquet(p["corpus"])), pd.read_parquet(p["queries"])


def _hot_query(ref):
    r, queries = ref
    q = queries[queries["kind"] == "hot"]["q"].iloc[0]
    want = r.bag_topk(q, 10)
    assert len(want) >= 3
    return r, q, want


def test_reference_matches_the_in_repo_oracle(ref):
    r, queries = ref
    for q in queries[~queries["kind"].isin(["and", "phrase"])]["q"]:
        assert not rank_mismatch(r.bag_topk(q, 10), r.oracle_topk(q, 10), q, ORACLE_TOL)


def test_checker_counts_a_swapped_rank(ref):
    _, q, want = _hot_query(ref)
    got = [want[1], want[0], *want[2:]]
    assert rank_mismatch(got, want, q)
    assert rank_mismatch(got, want, q, ORACLE_TOL)


def test_checker_counts_a_last_bit_score_change(ref):
    _, q, want = _hot_query(ref)
    conv, score = want[2]
    got = [*want[:2], (conv, math.nextafter(score, math.inf)), *want[3:]]
    assert rank_mismatch(got, want, q)
    assert not rank_mismatch(want, want, q)


def test_checker_counts_a_tombstoned_conversation(ref):
    r, q, want = _hot_query(ref)
    doc_of = {c: d for d, c in enumerate(r.conv)}
    ids = [doc_of[c] for c, _ in want]
    assert tombstone_leak(ids, {ids[-1]}, q)
    assert not tombstone_leak(ids, {max(doc_of.values()) + 1}, q)


def test_traced_job_count_equals_status_tracker(tmp_path):
    from perfbench.probes import Tracer
    from solr_ocr_processor_spark.operators.lifecycle import build_store, load_block_index
    from solr_ocr_processor_spark.operators.wand import wand_topk
    from solr_ocr_processor_spark.session import get_spark

    p = gen.generate(4, N, str(tmp_path / "in"), gen.MIXES["churn"])
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    store = build_store(spark, spark.read.parquet(p["corpus"]), str(tmp_path / "st"),
                        n_shards=1)
    bidx = load_block_index(spark, store)
    q = pd.read_parquet(p["queries"])["q"].iloc[0]
    sc = spark.sparkContext
    jobs_store = sc._jsc.sc().statusStore()

    def last_job_id():
        jobs = jobs_store.jobsList(None)  # a Scala Seq of JobData
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    tracer = Tracer(spark, enabled=True)
    before = last_job_id()
    with tracer.span("wand.query") as rec:
        wand_topk(spark, bidx, q, k=10).collect()
    after = last_job_id()
    tracked = sc.statusTracker().getJobIdsForGroup(rec["job_group"])
    assert rec["jobs"] == len(tracked) > 0
    # every job started during the span ran under the span's group
    assert sorted(tracked) == list(range(before + 1, after + 1))
    assert 0 < rec["stages"] <= rec["tasks"]
    assert rec["executor_cpu_s"] > 0 and rec["executor_run_s"] > 0


@pytest.mark.xfail(strict=True, reason="known defect: ordered_turns trims spaces only, so a "
                   "conversation of tab-only turns is indexed (record.json known_defects)")
def test_known_defect_tab_only_conversation_is_indexed(tmp_path):
    """The engine and the oracle should keep the same conversations. The
    generator avoids all-blank conversations because of this defect; when
    this test passes, that guard in gen._conversations can go."""
    import pyarrow as pa

    from solr_ocr_processor_spark.oracle import oracle_materialize
    from solr_ocr_processor_spark.plans.materialize import ordered_turns
    from solr_ocr_processor_spark.session import get_spark

    ts = pa.array([0, 1, 0, 1], pa.timestamp("us", tz="UTC"))
    t = pa.Table.from_arrays(
        [pa.array(["a", "a", "b", "b"]), pa.array([0, 1, 0, 1], pa.int32()),
         pa.array(["user"] * 4), pa.array(["hello world", "", " \t ", ""]),
         pa.array([None] * 4, pa.string()), ts],
        schema=gen.SCHEMA,
    )
    path = str(tmp_path / "t.parquet")
    pq.write_table(t, path)
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    engine = {r["conv_id"] for r in ordered_turns(spark.read.parquet(path)).collect()}
    assert engine == set(oracle_materialize(t.to_pandas())["conv_id"]) == {"a"}
