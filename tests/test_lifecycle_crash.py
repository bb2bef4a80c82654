"""Crash at every step of every store mutation.

Each mutation — the build and its resume, delete_convs, compact,
sync_store, the stream fold-in (merge_stream), the text shard merge,
the HNSW store's tiered merge, force merge and append, and the ANN
store's append — goes through lifecycle's one stage → journal → swap →
heal protocol.
The harness injects a failure at each protocol boundary of an op:

- staged, journal not yet written;
- journal written, no swap step run;
- after each swap step.

It then heals. A crash before the commit leaves the live tables as
they were, so the op is simply run again; the build, several commits
long, is re-run after every heal and resumes. A crash after a commit
writes nothing more than the uninterrupted run had written at that
boundary, so that state is copied from the uninterrupted run instead
of being reached by running the op once per boundary. The healed store
must equal an uninterrupted run's store table by table (as sorted
rows, read with pyarrow), and its query results must be identical:
WAND and ``bm25_topk`` for the text index, exhaustive
``hnsw_topk_stored`` for the HNSW store, and IVF and LSH probes of
every list and bucket for the ANN store.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from solr_ocr_processor_spark.config import IndexConfig
from solr_ocr_processor_spark.operators import lifecycle
from solr_ocr_processor_spark.operators.ann_store import (
    append_ann_store,
    build_ann_store,
    ivf_topk_stored,
    load_ann_store,
    lsh_topk_stored,
)
from solr_ocr_processor_spark.operators.hnsw import (
    append_hnsw_store,
    build_hnsw_store,
    hnsw_topk_stored,
    load_hnsw_store,
    merge_hnsw_segments,
    merge_hnsw_tiered,
)
from solr_ocr_processor_spark.operators.lifecycle import (
    IndexStore,
    build_metrics,
    build_store,
    compact,
    delete_conv,
    delete_convs,
    heal,
    load_block_index,
    load_index,
    merge_shards_tiered,
    sync_store,
    tombstoned_convs,
)
from solr_ocr_processor_spark.operators.score import bm25_topk, query_stats
from solr_ocr_processor_spark.operators.wand import wand_topk
from solr_ocr_processor_spark.oracle import oracle_bm25_topk, oracle_materialize
from solr_ocr_processor_spark.sources.transcripts import synth_transcripts
from solr_ocr_processor_spark.streaming.ingest import merge_stream

CFG = IndexConfig(range_size=8)
QUERY = "spark window merge"
TEXT_TABLES = (
    "postings", "doc_meta", "blocks", "doc_map", "term_stats", "corpus",
    "corpus_prior", "conv_hashes", "tombstones", "manifest", "stream_turns",
)
# wall-clock and random lineage fields differ between any two runs
VOLATILE = {"deleted_at", "build_id", "wall_sec", "finished_at"}


class Crash(RuntimeError):
    pass


def _run(op, at, seen=lambda committed: None):
    """Run ``op`` with a crash at protocol boundary ``at`` (None: no
    crash); ``seen(committed)`` is called at every boundary passed.
    Returns the number of boundaries the op passed."""
    passed = 0

    def boundary(committed):
        nonlocal passed
        if passed == at:
            raise Crash(f"injected crash at boundary {at}")
        seen(committed)
        passed += 1

    write_journal, swap_step = lifecycle._write_journal, lifecycle._swap_step

    def journal(*args):
        boundary(False)  # staged, no journal
        write_journal(*args)
        boundary(True)  # journal written, no step run

    def step(*args):
        swap_step(*args)
        boundary(True)  # after this step

    with pytest.MonkeyPatch.context() as m:
        m.setattr(lifecycle, "_write_journal", journal)
        m.setattr(lifecycle, "_swap_step", step)
        if at is None:
            op()
        else:
            with pytest.raises(Crash):
                op()
    return passed


def _rows(path):
    """A parquet table as (columns, sorted rows), volatile columns
    dropped; None when the table does not exist."""
    if not os.path.exists(path):
        return None
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = sorted(c for c in t.column_names if c not in VOLATILE)
    return cols, sorted(repr(r) for r in t.select(cols).to_pylist())


def _partitions(path):
    """The partition values under a table directory (``key=value``)."""
    return sorted(int(d.split("=")[1]) for d in os.listdir(path) if "=" in d)


def _files(root):
    """Every file under ``root``, as sorted relative paths."""
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


def _crash_every_boundary(base, op, snapshot, tmp_path, resume=False):
    """Copy the store at ``base`` for an uninterrupted run and for a
    crash at every boundary; each crashed copy, healed (and re-run when
    the crash came before the commit), must snapshot like the
    uninterrupted one. ``op(root)`` runs the mutation on a copy. A
    committed boundary's crash state is a copy of the uninterrupted
    store taken there; a crash before a commit is run for real, so the
    re-run also starts in a session the crash left behind.

    ``resume`` is for an op of several commits: it is re-run after
    every heal. Every committed boundary of one commit must heal to the
    same files (a copy of one run's files, so the same bytes); the
    first of them is re-run and snapshot, and the rest are compared
    file for file with it."""
    want_root = str(tmp_path / "uninterrupted")
    shutil.copytree(base, want_root)
    crashed = []  # per boundary: the copied crash state (None before a commit), its commit
    commits = 0

    def seen(committed):
        nonlocal commits
        root = None
        if committed:  # a crash here would write nothing more
            root = shutil.copytree(want_root, str(tmp_path / f"crash_{len(crashed)}"))
        else:
            commits += 1
        crashed.append((root, commits))

    n = _run(lambda: op(want_root), None, seen)
    want = snapshot(want_root)
    assert n >= 3
    assert not [d for d in os.listdir(want_root) if d.startswith("_swap_")]
    first_healed = {}  # per commit of a resumed op: the files its first boundary healed to
    for at, (root, commit) in enumerate(crashed):
        committed = root is not None
        if not committed:
            root = str(tmp_path / f"crash_{at}")
            shutil.copytree(base, root)
            _run(lambda: op(root), at)
        healed = heal(root)
        if resume and committed:
            files = _files(root)
            if commit in first_healed:
                assert files == first_healed[commit], f"crash at boundary {at} of {n}"
                continue
            first_healed[commit] = files
        if healed == 0 or resume:  # before the commit: nothing swapped
            op(root)
        assert not [d for d in os.listdir(root) if d.startswith("_swap_")], at
        assert snapshot(root) == want, f"crash at boundary {at} of {n}"
    return n


# --- text index ------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_transcripts(spark, n_convs=16, max_turns=6, seed=7)


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    """A 2-shard store of the corpus; tests copy it, never write it."""
    root = str(tmp_path_factory.mktemp("built") / "store")
    build_store(spark, corpus, root, CFG, n_shards=2)
    return root


def _copy(built, tmp_path):
    return shutil.copytree(built, str(tmp_path / "base"))


def _text_results(spark, root):
    store = IndexStore(root, CFG)
    dead = tombstoned_convs(spark, store).select("doc_id")
    wand = wand_topk(
        spark, load_block_index(spark, store), QUERY, k=10, cfg=CFG, exclude_docs=dead
    )
    exh = bm25_topk(spark, load_index(spark, store), QUERY, k=10, cfg=CFG, exclude_docs=dead)
    return [
        [(r["doc_id"], r["conv_id"], r["score"].hex()) for r in df.collect()]
        for df in (wand, exh)
    ]


def _text_snapshot(spark, tables=TEXT_TABLES):
    def snap(root):
        rows = {t: _rows(os.path.join(root, t)) for t in tables}
        return rows, _text_results(spark, root)

    return snap


def _manifest_rows(root):
    """(shard, build_id) of every manifest row, [] before the first."""
    path = os.path.join(root, "manifest")
    if not os.path.exists(path):
        return []
    t = pads.dataset(path, format="parquet").to_table().to_pylist()
    assert all(r["n_turns"] / r["wall_sec"] > 0 for r in t)  # turns_per_sec
    return sorted((r["shard"], r["build_id"]) for r in t)


def test_build_resumes_from_every_crash_point(spark, corpus, built, tmp_path):
    """The build is one commit for step 0 (doc_map, corpus_prior), one
    per shard (postings, doc_meta, blocks and its manifest row) and one
    for the finalize (term_stats, corpus, corpus_prior, conv_hashes).
    Re-run after a crash at any boundary and a heal, it builds only the
    shards the manifest does not list: each shard has one manifest row
    and a shard committed before the crash keeps its build_id."""
    base = str(tmp_path / "base")
    os.makedirs(base)

    def op(root):
        before = _manifest_rows(root)
        build_store(spark, corpus, root, CFG, n_shards=2)
        after = _manifest_rows(root)
        assert [shard for shard, _ in after] == [0, 1]
        assert set(before) <= set(after)

    n = _crash_every_boundary(base, op, _text_snapshot(spark), tmp_path, resume=True)
    assert n == (2 + 2) + 2 * (2 + 4) + (2 + 4)
    root = str(tmp_path / "uninterrupted")
    store = IndexStore(root, CFG)
    for r in build_metrics(spark, store).collect():
        assert r["turns_per_sec"] > 0
        # n_postings comes from footer row counts: it equals the shard's
        # posting rows and the postings its blocks hold
        shard = f"shard={r['shard']}"
        blocks = pads.dataset(os.path.join(root, "blocks", shard)).to_table(["n_docs"])
        assert r["n_postings"] == pads.dataset(os.path.join(root, "postings", shard)).count_rows()
        assert r["n_postings"] == sum(blocks.column("n_docs").to_pylist())
    # the resumed stores answer like the oracle and like one plain build
    bidx = load_block_index(spark, store)
    docs_pd = oracle_materialize(corpus.toPandas())
    assert query_stats(bidx, []).n_docs == len(docs_pd)
    got = wand_topk(spark, bidx, QUERY, k=10, cfg=CFG).collect()
    want = oracle_bm25_topk(docs_pd, QUERY, k=10, cfg=CFG)
    assert [r["doc_id"] for r in got] == list(want["doc_id"])
    assert all(abs(r["score"] - s) < 1e-9 for r, s in zip(got, want["score"]))
    assert _text_snapshot(spark)(root) == _text_snapshot(spark)(built)


def test_delete_convs_heals_from_every_crash_point(spark, built, tmp_path):
    """A batch delete is one journal appending the tombstone rows; a
    conversation already tombstoned and an unknown one add none."""
    base = _copy(built, tmp_path)
    delete_conv(spark, IndexStore(base, CFG), "s000003")

    def op(root):
        convs = spark.createDataFrame(
            [("s000003",), ("s000010",), ("s000010",), ("nope",)], "conv_id string"
        )
        assert delete_convs(spark, IndexStore(root, CFG), convs) == 1

    n = _crash_every_boundary(base, op, _text_snapshot(spark), tmp_path)
    assert n == 2 + 1
    root = str(tmp_path / "uninterrupted")
    rows, _ = _text_snapshot(spark)(root)
    doc_map = pads.dataset(os.path.join(root, "doc_map")).to_table().to_pylist()
    assert rows["tombstones"][1] == sorted(
        repr({"conv_id": r["conv_id"], "doc_id": r["doc_id"]})
        for r in doc_map
        if r["conv_id"] in ("s000003", "s000010")
    )


def test_compact_heals_from_every_crash_point(spark, built, tmp_path):
    base = _copy(built, tmp_path)
    store = IndexStore(base, CFG)
    for conv in ("s000003", "s000010"):
        delete_conv(spark, store, conv)

    n = _crash_every_boundary(
        base,
        lambda root: compact(spark, IndexStore(root, CFG)),
        _text_snapshot(spark),
        tmp_path,
    )
    assert n == 2 + 7  # one journal, seven tables swapped
    rows, _ = _text_snapshot(spark)(str(tmp_path / "uninterrupted"))
    assert rows["tombstones"] is None


def test_sync_heals_from_every_crash_point(spark, corpus, built, tmp_path):
    """The whole sync is one journal: the tombstones of the removed and
    the changed conversation, the fold of the changed and the added
    one, and the new fingerprints. A crash before the journal leaves
    the store as it was, and the re-run folds under the same doc ids
    and shard number; a crash after it is finished by heal."""
    base = _copy(built, tmp_path)
    old_hashes = _rows(os.path.join(base, "conv_hashes"))
    new = (
        corpus.where(F.col("conv_id") != "s000000")
        .withColumn(
            "text",
            F.when(
                F.col("conv_id") == "s000001", F.concat(F.col("text"), F.lit(" zebra"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            corpus.where(F.col("conv_id") == "s000002").withColumn(
                "conv_id", F.lit("zz0001")
            )
        )
    )

    def op(root):
        res = sync_store(spark, IndexStore(root, CFG), new, compact_after=False)
        assert res == {"added": 1, "changed": 1, "removed": 1, "unchanged": 14}

    n = _crash_every_boundary(base, op, _text_snapshot(spark), tmp_path)
    # tombstones, 3 shard tables, doc_map, 3 globals, lineage, conv_hashes
    assert n == 2 + 10
    rows, _ = _text_snapshot(spark)(str(tmp_path / "uninterrupted"))
    assert rows["conv_hashes"] != old_hashes
    assert len(rows["tombstones"][1]) == 2  # the old docs of s000000, s000001
    assert _partitions(os.path.join(tmp_path / "uninterrupted", "postings")) == [0, 1, 2]


def test_merge_stream_heals_from_every_crash_point(spark, corpus, built, tmp_path):
    """The stream fold-in is one journal whose last step drops the
    staged stream_turns; at every crash point the store heals (or
    re-runs) to the uninterrupted merge, and the staging table is
    consumed exactly once."""
    base = str(tmp_path / "base")
    build_store(spark, corpus.where("conv_id < 's000012'"), base, CFG, n_shards=2)
    corpus.where("conv_id >= 's000012'").write.parquet(
        os.path.join(base, "stream_turns", "batch_id=0")
    )

    def op(root):
        assert merge_stream(spark, IndexStore(root, CFG)) == 4

    n = _crash_every_boundary(base, op, _text_snapshot(spark), tmp_path)
    assert n == 2 + 9  # 3 shard tables, doc_map, 3 globals, lineage, drop
    merged = str(tmp_path / "uninterrupted")
    rows, results = _text_snapshot(spark)(merged)
    assert rows["stream_turns"] is None
    assert len(rows["doc_map"][1]) == 16
    assert results == _text_results(spark, built)


def test_merge_stream_keeps_a_batch_appended_after_a_crash(spark, corpus, built, tmp_path):
    """The stream journal consumes only the batches its merge read: a
    batch appended between a crash after the commit and the next merge
    is folded by that merge, not dropped by its heal."""
    root = str(tmp_path / "store")
    build_store(spark, corpus.where("conv_id < 's000008'"), root, CFG, n_shards=2)
    turns = os.path.join(root, "stream_turns")
    corpus.where("conv_id >= 's000008' and conv_id < 's000012'").write.parquet(
        os.path.join(turns, "batch_id=0")
    )
    store = IndexStore(root, CFG)
    assert _run(lambda: merge_stream(spark, store), 1) == 1  # journal written
    corpus.where("conv_id >= 's000012'").write.parquet(os.path.join(turns, "batch_id=1"))

    assert merge_stream(spark, store) == 4 + 4  # the healed merge's + batch 1's
    assert not os.path.exists(turns)
    dm = spark.read.parquet(store.path("doc_map"))
    assert dm.count() == dm.select("conv_id").distinct().count() == 16
    assert _text_results(spark, root) == _text_results(spark, built)


def test_shard_merge_heals_from_every_crash_point(spark, corpus, tmp_path):
    base = str(tmp_path / "base")
    build_store(spark, corpus, base, CFG, n_shards=4)
    n = _crash_every_boundary(
        base,
        lambda root: merge_shards_tiered(spark, IndexStore(root, CFG), merge_factor=4),
        _text_snapshot(spark),
        tmp_path,
    )
    assert n == 2 + 4  # one group: postings, doc_meta, blocks, lineage
    merged = str(tmp_path / "uninterrupted")
    for t in ("postings", "doc_meta", "blocks"):
        assert _partitions(os.path.join(merged, t)) == [0]


# --- HNSW store ------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    """40 random 8-d vectors and the query vector (id 5)."""
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return embs, rows[5][1]


def _hnsw_build(spark, embs, root):
    build_hnsw_store(spark, embs, root, dim=8, seg_size=8)
    return root


def _hnsw_snapshot(spark, qv):
    def snap(root):
        store = load_hnsw_store(root)
        with open(os.path.join(root, "meta.json")) as f:
            meta = json.load(f)
        top = hnsw_topk_stored(spark, store, qv, k=10, ef=4096).collect()
        return (
            _rows(store.path("nodes")),
            _rows(store.path("edges")),
            meta,
            [(r["id"], r["cos"]) for r in top],
        )

    return snap


def test_hnsw_tiered_merges_heal_from_every_crash_point(spark, vectors, tmp_path):
    """First merge: 4 segments in 2 groups; second merge: the two merged
    segments into one that reuses the id of the member holding id 0."""
    embs, qv = vectors
    base = _hnsw_build(spark, embs.where("vec_id < 32"), str(tmp_path / "base"))
    snap = _hnsw_snapshot(spark, qv)

    def op(root):
        merge_hnsw_tiered(spark, load_hnsw_store(root), merge_factor=2)

    n = _crash_every_boundary(base, op, snap, tmp_path / "first")
    assert n == 2 + 4  # two groups, nodes + edges each
    once = str(tmp_path / "first" / "uninterrupted")
    assert _partitions(os.path.join(once, "nodes")) == [-17, -1]
    n = _crash_every_boundary(once, op, snap, tmp_path / "second")
    assert n == 2 + 2
    twice = str(tmp_path / "second" / "uninterrupted")
    assert _partitions(os.path.join(twice, "nodes")) == [-1]
    nodes, _, _, top = snap(twice)
    assert len(nodes[1]) == 32
    assert top == snap(base)[3]


def test_hnsw_force_merge_heals_from_every_crash_point(spark, vectors, tmp_path):
    embs, qv = vectors
    base = _hnsw_build(spark, embs.where("vec_id < 32"), str(tmp_path / "base"))
    n = _crash_every_boundary(
        base,
        lambda root: merge_hnsw_segments(spark, load_hnsw_store(root), factor=4),
        _hnsw_snapshot(spark, qv),
        tmp_path,
    )
    assert n == 2 + 3  # nodes, edges, meta.json
    assert load_hnsw_store(str(tmp_path / "uninterrupted")).seg_size == 32


def test_hnsw_append_heals_from_every_crash_point(spark, vectors, tmp_path):
    """Appended ids 32..39 open a new segment; the store is built from
    even ids below 16 only, so the odd ones land inside segments 0 and
    1 and rebuild them."""
    embs, qv = vectors
    base = _hnsw_build(
        spark,
        embs.where("vec_id < 32 AND (vec_id >= 16 OR vec_id % 2 = 0)"),
        str(tmp_path / "base"),
    )
    new = embs.where("vec_id >= 32 OR (vec_id < 16 AND vec_id % 2 = 1)")

    def op(root):
        append_hnsw_store(spark, load_hnsw_store(root), new)

    n = _crash_every_boundary(base, op, _hnsw_snapshot(spark, qv), tmp_path)
    assert n == 2 + 6  # segments 0, 1, 4: nodes + edges each
    fresh = _hnsw_build(spark, embs, str(tmp_path / "fresh"))
    snap = _hnsw_snapshot(spark, qv)
    assert snap(str(tmp_path / "uninterrupted")) == snap(fresh)


# --- ANN store -------------------------------------------------------------


def test_ann_append_heals_from_every_crash_point(spark, vectors, tmp_path):
    """The appended LSH and IVF rows are one journal, one append step per
    staged leaf partition. Probes of every IVF list and of every LSH
    bucket are exhaustive, so the healed store answers like brute force
    over all 40 vectors."""
    embs, qv = vectors
    base = str(tmp_path / "base")
    build_ann_store(
        spark, embs.where("vec_id < 24"), base, dim=8,
        num_bands=2, bits_per_band=3, n_centroids=4,
    )

    def op(root):
        assert append_ann_store(spark, load_ann_store(root), embs.where("vec_id >= 24")) == 16

    def snap(root):
        store = load_ann_store(root)
        probes = (
            ivf_topk_stored(spark, store, qv, k=10, nprobe=store.n_centroids),
            lsh_topk_stored(spark, store, qv, k=10, radius=store.bits_per_band),
        )
        return (
            _rows(store.path("lsh")),
            _rows(store.path("ivf")),
            [[(r["id"], r["cos"]) for r in df.collect()] for df in probes],
        )

    n = _crash_every_boundary(base, op, snap, tmp_path)
    root = str(tmp_path / "uninterrupted")

    def appended_to(table, keys):  # the partitions the appended ids landed in
        t = pads.dataset(os.path.join(root, table), partitioning="hive").to_table()
        return {tuple(r[k] for k in keys) for r in t.to_pylist() if r["id"] >= 24}

    assert n == 2 + len(appended_to("lsh", ("band", "bdir"))) + len(appended_to("ivf", ("list_id",)))
    lsh, ivf, probes = snap(root)
    assert len(lsh[1]) == 2 * 40 and len(ivf[1]) == 40
    vecs = np.array([r["embedding"] for r in embs.orderBy("vec_id").collect()])
    cos = vecs @ np.array(qv) / np.linalg.norm(vecs, axis=1) / np.linalg.norm(qv)
    brute = sorted(range(40), key=lambda i: (-cos[i], i))[:10]
    assert [[i for i, _ in p] for p in probes] == [brute, brute]
