"""Index lifecycle: persisted store, resumable build, delete, check (M4).

The reference's HTTP lifecycle (app/main.go:94-116) mapped to jobs:

- POST /item  -> :func:`build_store` — the index build, shard-by-shard
  with per-shard checkpoint manifests so a killed job resumes without
  redoing finished shards (the GET-before-POST idempotency analog,
  app/handler/indexer.go:27-41).
- GET /item   -> :func:`check` — membership lookup (numFound>0,
  app/process/solr.go:100-124).
- DELETE /item -> :func:`delete_conv` — delete-by-query. The reference
  deletes Solr docs then unlinks lazy files (app/process/solr.go:21-97,
  reading the file list BEFORE deleting index entries). Our analog:
  append the conv to a tombstone table consulted at query time (cheap,
  immediate) and physically drop rows at :func:`compact` time (the
  Iceberg row-level-delete / segment-merge analog).

Store layout (parquet locally; Iceberg tables on a cluster — same
relational shape, swap the writer):

    {root}/doc_map/                 doc_id <-> conv_id (checkpointed sort)
    {root}/postings/shard=K/        posting rows (tf/dl + packed payloads)
    {root}/blocks/shard=K/          compressed posting blocks
    {root}/doc_meta/shard=K/
    {root}/term_stats/              global dictionary (finalize step)
    {root}/corpus/                  n_docs / avgdl / total_tokens
    {root}/corpus_prior/            global stats the next shard encodes with
    {root}/conv_hashes/             per-conv content fingerprints (sync)
    {root}/manifest/                per-shard build lineage + metrics
    {root}/tombstones/              deleted conv_ids (append-only)
    {root}/_swap_<name>/            staged rewrite + journal.json (transient)

Sharding is by doc-id range (``shard = doc_id // shard_width``), which
keeps shards aligned with the block index's range structure and makes
the doc-id assignment the ONLY global step. That assignment is
computed once from the sorted distinct conv_id set and *checkpointed*
to ``doc_map`` before any shard builds — reruns and resumes read the
checkpoint instead of recomputing, so doc ids are stable across
failures (SURVEY §4.2-5; monotonically_increasing_id is banned).

Every IN-PLACE rewrite — :func:`compact`, the fingerprint refresh of
:func:`sync_store`, :func:`merge_shards_tiered`, and the HNSW store's
append, tiered merge and force merge — goes through one protocol:

1. stage: the replacement tables are written under
   ``{root}/_swap_<name>/`` (Spark's listing hides ``_``-prefixed
   paths); the live tables are not touched;
2. commit: ``journal.json`` is written atomically (tmp file +
   ``os.replace``). It lists steps ``(src in stage, dst, paths to drop
   first)``;
3. swap: replay runs the steps in order — drop, then rename ``src`` to
   ``dst`` — and skips a step whose ``src`` is already gone, so a
   replay can restart from any crash point;
4. heal: :func:`heal` finishes every journaled stage and discards every
   stage without a journal (the crash came before the commit, so the
   live tables are intact).

Contract: one writer per store. Every mutating entry point heals
first; readers do not heal, so after a crash inside a swap the store
reads correctly again once the next mutating call (or :func:`heal`)
has run. The append-only, commit-ordered writes (build resume, stream
fold-in) need no stage. Renames are driver-local filesystem ops, so
the root must be on a filesystem the driver addresses directly
(local/NFS; on object stores swap via the catalog instead).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, IndexConfig
from ..plans.materialize import materialize_docs
from .blocks import BlockIndex, build_block_index
from .build import Index, build_postings


@dataclass
class IndexStore:
    root: str
    cfg: IndexConfig

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)


MANIFEST_SCHEMA = (
    "build_id string, shard int, status string, n_convs long, n_turns long, "
    "n_postings long, n_blocks long, wall_sec double, finished_at double"
)


def _exists(spark: SparkSession, path: str) -> bool:
    try:
        spark.read.parquet(path).limit(1).collect()
        return True
    except Exception:  # noqa: BLE001 - missing path
        return False


def swap_stage(root: str, name: str) -> str:
    """The stage directory of the rewrite called ``name``."""
    return os.path.join(root, f"_swap_{name}")


def commit_swap(root: str, name: str, steps: list[tuple[str, str, list[str]]]) -> None:
    """Commit the rewrite staged under ``swap_stage(root, name)`` and swap
    it in. ``steps`` are ``(src, dst, drops)``: ``src`` relative to the
    stage, ``dst`` and ``drops`` relative to ``root``."""
    stage = swap_stage(root, name)
    _write_journal(stage, steps)
    _replay(root, stage)


def _write_journal(stage: str, steps) -> None:
    tmp = os.path.join(stage, "journal.json.tmp")
    with open(tmp, "w") as f:
        json.dump(steps, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(stage, "journal.json"))


def _replay(root: str, stage: str) -> None:
    with open(os.path.join(stage, "journal.json")) as f:
        steps = json.load(f)
    for src, dst, drops in steps:
        _swap_step(root, stage, src, dst, drops)
    shutil.rmtree(stage)


def _swap_step(root: str, stage: str, src: str, dst: str, drops: list[str]) -> None:
    staged = os.path.join(stage, src)
    if not os.path.exists(staged):
        return  # swapped in by an earlier attempt
    for rel in (*drops, dst):
        path = os.path.join(root, rel)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
    target = os.path.join(root, dst)
    os.makedirs(os.path.dirname(target), exist_ok=True)
    os.rename(staged, target)


def heal(root: str) -> int:
    """Finish every journaled swap under ``root`` and discard every
    stage without a journal. Returns the number of swaps finished."""
    healed = 0
    for stage in sorted(glob.glob(os.path.join(glob.escape(root), "_swap_*"))):
        if os.path.exists(os.path.join(stage, "journal.json")):
            _replay(root, stage)
            healed += 1
        else:
            shutil.rmtree(stage)
    return healed


def _manifest_done_shards(spark: SparkSession, store: IndexStore) -> set[int]:
    p = store.path("manifest")
    if not _exists(spark, p):
        return set()
    return {
        r["shard"]
        for r in spark.read.parquet(p).where("status = 'done'").select("shard").collect()
    }


def build_store(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    cfg: IndexConfig = DEFAULT,
    n_shards: int = 4,
    fail_after_shard: int | None = None,
) -> IndexStore:
    """Build (or resume) a persisted index at ``root``.

    Steps:
      0. doc_map checkpoint (skipped when present).
      1. per doc-id shard: materialize + tokenize + postings + blocks,
         written under ``shard=K``; a manifest row records lineage and
         throughput metrics. Shards listed 'done' in the manifest are
         skipped on resume.
      2. finalize: global term_stats + corpus from all shards.

    ``fail_after_shard`` injects a crash after N shards (tests only).
    """
    store = IndexStore(root=root, cfg=cfg)
    heal(root)
    build_id = uuid.uuid4().hex[:12]

    # --- step 0: checkpointed doc-id assignment + GLOBAL corpus stats ---
    # Global avgdl must exist BEFORE any shard builds: block-max bounds
    # encoded against a shard-local avgdl under-bound whenever that
    # shard's avgdl is below the global one, and WAND would then prune
    # ranges holding true top-k docs (silent wrong results). One cheap
    # token-count scan (no token rows materialized) fixes the stats.
    doc_map_path = store.path("doc_map")
    corpus_prior_path = store.path("corpus_prior")
    if not _exists(spark, doc_map_path):
        from ..plans.materialize import assign_doc_ids, ordered_turns

        turns = ordered_turns(transcripts)
        ids_df = assign_doc_ids(turns)
        ids_df.write.mode("overwrite").parquet(doc_map_path)
        ids_df.unpersist()
    doc_map = spark.read.parquet(doc_map_path)
    n_docs_total = doc_map.count()
    if not _exists(spark, corpus_prior_path):
        from ..functions.tokenizer import count_turn_tokens

        nonempty = transcripts.where(F.length(F.trim(F.col("text"))) > 0)
        (
            count_turn_tokens(nonempty, cfg)
            .agg(F.sum("n_toks").cast("long").alias("total_tokens"))
            .select(
                F.lit(n_docs_total).cast("long").alias("n_docs"),
                "total_tokens",
                (F.col("total_tokens") / F.lit(n_docs_total)).alias("avgdl"),
            )
            .write.mode("overwrite")
            .parquet(corpus_prior_path)
        )
    prior = spark.read.parquet(corpus_prior_path).first()
    global_stats = (int(prior["n_docs"]), float(prior["avgdl"]))
    shard_width = max(1, -(-n_docs_total // n_shards))

    done = _manifest_done_shards(spark, store)
    built = 0
    for shard in range(n_shards):
        if shard in done:
            continue
        t0 = time.perf_counter()
        lo, hi = shard * shard_width, (shard + 1) * shard_width
        convs = doc_map.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        shard_t = transcripts.join(
            F.broadcast(convs.select("conv_id")), "conv_id", "inner"
        )
        # build_postings assigns doc ids by local row_number; override
        # with the checkpointed global map to keep ids stable. Blocks
        # encode bounds against the GLOBAL stats from step 0. Doc ids
        # are dense 0..n-1, so the shard's conv count is known exactly
        # from its id range — no per-shard count() barrier.
        idx = build_postings(
            shard_t,
            cfg,
            doc_map=convs,
            n_docs_hint=max(0, min(hi, n_docs_total) - lo),
        )
        bidx = build_block_index(idx, cfg, corpus_stats=global_stats)

        idx.postings.write.mode("overwrite").parquet(
            store.path(f"postings/shard={shard}")
        )
        write_blocks(bidx.blocks, store.path(f"blocks/shard={shard}"))
        idx.doc_meta.write.mode("overwrite").parquet(
            store.path(f"doc_meta/shard={shard}")
        )
        # Manifest stats come from the tables just WRITTEN (two tiny
        # aggregations over parquet), not from re-running the build DAG:
        # the old distinct().count() / blocks.count() calls re-executed
        # the tokenize+encode pipeline twice more per shard — pure
        # serial-fraction waste at scale.
        meta_row = (
            spark.read.parquet(store.path(f"doc_meta/shard={shard}"))
            .agg(
                F.count(F.lit(1)).alias("n_convs"),
                F.sum("n_turns").alias("n_turns"),
            )
            .first()
        )
        blk_row = (
            spark.read.parquet(store.path(f"blocks/shard={shard}"))
            .agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("n_docs").alias("n_postings"),
            )
            .first()
        )
        n_convs, n_turns = int(meta_row["n_convs"]), int(meta_row["n_turns"] or 0)
        n_blocks = int(blk_row["n_blocks"])
        n_postings = int(blk_row["n_postings"] or 0)
        idx.postings.unpersist()
        idx.mat.unpersist()  # releases docs + the persisted turns base
        wall = time.perf_counter() - t0
        row = [
            (build_id, shard, "done", n_convs, n_turns, n_postings, n_blocks,
             wall, time.time())
        ]
        spark.createDataFrame(row, MANIFEST_SCHEMA).write.mode("append").parquet(
            store.path("manifest")
        )
        built += 1
        if fail_after_shard is not None and built >= fail_after_shard:
            raise RuntimeError(f"injected failure after shard {shard}")

    # --- step 2: finalize global stats ---------------------------------
    finalize_store(spark, store)
    # content fingerprints for the incremental sync path (sync_store):
    # one extra narrow md5 groupBy over the input — idempotent on
    # resume (overwrite), and the only way a FIRST sync can tell a
    # changed conv from an unchanged one.
    hp = store.path("conv_hashes")
    if not _exists(spark, hp):
        conv_content_hashes(transcripts).write.mode("overwrite").parquet(hp)
    return store


def finalize_store(spark: SparkSession, store: IndexStore) -> None:
    """Recompute the global dictionary (term_stats) and corpus stats
    from every shard's persisted tables. Shared by the initial sharded
    build and by streaming fold-in (merge_stream), which appends a new
    shard and must refresh the globals the query side scores with."""
    term_stats, corpus = global_stats(
        spark.read.parquet(store.path("postings")),
        spark.read.parquet(store.path("doc_meta")),
    )
    term_stats.write.mode("overwrite").parquet(store.path("term_stats"))
    corpus.write.mode("overwrite").parquet(store.path("corpus"))


def global_stats(postings: DataFrame, doc_meta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The dictionary (term, df, cf) and the one-row corpus (n_docs,
    total_tokens, avgdl) of a posting table and its doc_meta."""
    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    corpus = doc_meta.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    return term_stats, corpus


def write_blocks(blocks: DataFrame, path: str) -> None:
    """Write encoded blocks clustered + sorted by term, so query-time
    `term IN (...)` filters prune parquet row groups via min/max stats
    (the file-level analog of Iceberg bucket(term) partitioning)."""
    blocks.repartition(F.col("term")).sortWithinPartitions(
        "term", "range_id", "block_id"
    ).write.mode("overwrite").parquet(path)


def load_index(spark: SparkSession, store: IndexStore) -> Index:
    """Open the persisted store as a postings-level Index — the surface
    the AND / phrase / NOT query operators run against (the block index
    serves bag-of-words WAND; positional and boolean operators read the
    posting table, term-pruned at the parquet scan)."""
    from ..plans.materialize import Materialized

    return Index(
        postings=spark.read.parquet(store.path("postings")),
        doc_meta=spark.read.parquet(store.path("doc_meta")),
        term_stats=spark.read.parquet(store.path("term_stats")),
        corpus=spark.read.parquet(store.path("corpus")),
        mat=Materialized(turns=None, docs=None),
    )


def load_index_with_content(
    spark: SparkSession, store: IndexStore, transcripts: DataFrame
) -> Index:
    """:func:`load_index` plus LAZY CONTENT RESOLUTION: the store holds
    ids + stats only (S8 sink-lazy default), so snippet text must come
    from the original transcripts source — the reference's lazy model
    exactly (Solr's lazy index stores a pointer and re-reads the OCR
    file at highlight time, app/assets/build/config.yml:27-33). The
    turns frame re-derives deterministically (same ordinal/char-offset
    rules as build time) and doc ids attach from the store's own
    checkpointed doc_map, so offsets in stored postings line up with
    the resolved text bit-for-bit."""
    from ..plans.materialize import Materialized, ordered_turns

    idx = load_index(spark, store)
    doc_map = spark.read.parquet(store.path("doc_map")).select("doc_id", "conv_id")
    turns = ordered_turns(transcripts).join(doc_map, "conv_id")
    return Index(
        postings=idx.postings,
        doc_meta=idx.doc_meta,
        term_stats=idx.term_stats,
        corpus=idx.corpus,
        mat=Materialized(turns=turns, docs=None),
    )


def load_block_index(spark: SparkSession, store: IndexStore) -> BlockIndex:
    """Open the persisted store for querying (blocks + dictionary)."""
    crow = spark.read.parquet(store.path("corpus")).first()
    return BlockIndex(
        blocks=spark.read.parquet(store.path("blocks")),
        term_stats=spark.read.parquet(store.path("term_stats")),
        doc_meta=spark.read.parquet(store.path("doc_meta")),
        n_docs=int(crow["n_docs"]),
        avgdl=float(crow["avgdl"]),
        cfg=store.cfg,
    )


# --- lifecycle verbs -------------------------------------------------------


def check(spark: SparkSession, store: IndexStore, conv_id: str) -> bool:
    """GET membership: indexed and not tombstoned (numFound>0 analog).

    Doc-LEVEL, not conv-level: a conv deleted and later re-added (the
    sync_store changed-conv path) holds BOTH a tombstoned old doc id
    and a live new one in doc_map — it IS indexed. A conv-level
    "any tombstone row => gone" test would wrongly report it missing.
    """
    dm = spark.read.parquet(store.path("doc_map")).where(
        F.col("conv_id") == conv_id
    )
    dead = tombstoned_convs(spark, store).select("doc_id")
    return bool(dm.join(dead, "doc_id", "left_anti").limit(1).count())


def check_offline(root: str, conv_id: str) -> bool:
    """GET membership WITHOUT a cluster: the reference's check is one
    HTTP call against the stored core (app/process/solr.go:100-124);
    spinning a Spark job over the store for an exists-lookup is the
    wrong cost class. This reads the store's own parquet directly via
    pyarrow with predicate pushdown — doc_map is written range-
    partitioned and sorted by conv_id (plans/materialize.assign_doc_ids
    feeds the step-0 checkpoint in that order), so file- and row-group
    min/max stats prune the point lookup to ~one row group even at
    10^9 conversations; tombstones stay O(deletes-since-compact).
    Same semantics as :func:`check`: indexed and not tombstoned.
    Local filesystem only — callers route hdfs://s3a:// stores to
    :func:`check` (jobs/cli.py does)."""
    import pyarrow.dataset as pads

    if root.startswith("file://"):
        root = root[len("file://"):]

    dm = os.path.join(root, "doc_map")
    if not os.path.isdir(dm):
        return False
    live = {
        r["doc_id"]
        for r in pads.dataset(dm, format="parquet")
        .to_table(filter=pads.field("conv_id") == conv_id, columns=["doc_id"])
        .to_pylist()
    }
    if not live:
        return False
    tomb = os.path.join(root, "tombstones")
    if os.path.isdir(tomb):
        # doc-level (see check()): only this conv's doc ids are read —
        # O(rows-for-one-conv), still a point lookup.
        dead = {
            r["doc_id"]
            for r in pads.dataset(tomb, format="parquet")
            .to_table(filter=pads.field("conv_id") == conv_id, columns=["doc_id"])
            .to_pylist()
        }
        live -= dead
    return bool(live)


def delete_conv(spark: SparkSession, store: IndexStore, conv_id: str) -> None:
    """DELETE: record a tombstone. Like the reference we capture the
    doc ids BEFORE logically removing them (app/process/solr.go:25-34 —
    the index is the only place they're recorded)."""
    heal(store.root)
    dm = spark.read.parquet(store.path("doc_map"))
    victims = dm.where(F.col("conv_id") == conv_id).withColumn(
        "deleted_at", F.lit(time.time())
    )
    victims.write.mode("append").parquet(store.path("tombstones"))


def conv_content_hashes(transcripts: DataFrame) -> DataFrame:
    """Per-conversation content fingerprint for change detection:
    sum of the 40-bit md5 prefix of each turn's canonical string
    (the order-independent-sum discipline of functions/textstats
    .fingerprint — 2^40 x 10^5 turns stays exact in a BIGINT).
    Returns (conv_id, content_hash). Map + one map-side-combinable
    aggregate; no window, no shuffle beyond the groupBy."""
    canon = F.concat_ws(
        "\x1f",
        F.col("conv_id"),
        F.col("turn_idx").cast("string"),
        F.col("role"),
        F.coalesce(F.col("tool"), F.lit("")),
        F.col("text"),
        # via TIMESTAMP: a tz-naive input reads as TIMESTAMP_NTZ, which
        # has no BIGINT cast (the session zone is UTC, so both agree)
        F.col("ts").cast("timestamp").cast("long").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 10), 16, 10).cast("long")
    return transcripts.groupBy("conv_id").agg(
        F.sum(h).cast("long").alias("content_hash")
    )


def delete_convs(spark: SparkSession, store: IndexStore, convs: DataFrame) -> int:
    """Batch DELETE: tombstone every doc id of every conv in ``convs``
    (a (conv_id) frame) in ONE doc_map pass + one append — the set
    form of :func:`delete_conv` (the reference deletes one item per
    HTTP call, app/handler/indexer.go:155-163; a sync deletes many).
    Already-tombstoned doc ids are skipped so repeated syncs don't
    grow the tombstone table. Returns the number of docs tombstoned."""
    heal(store.root)
    dm = spark.read.parquet(store.path("doc_map"))
    victims = (
        dm.join(convs.select("conv_id").distinct(), "conv_id", "left_semi")
        .join(tombstoned_convs(spark, store).select("doc_id"), "doc_id", "left_anti")
        .withColumn("deleted_at", F.lit(time.time()))
        .select("doc_id", "conv_id", "deleted_at")
    )
    victims.persist()
    n = victims.count()
    if n:
        victims.write.mode("append").parquet(store.path("tombstones"))
    victims.unpersist()
    return n


def sync_store(
    spark: SparkSession,
    store: IndexStore,
    new_transcripts: DataFrame,
    compact_after: bool = True,
) -> dict:
    """Batch corpus synchronisation — make the store serve exactly
    ``new_transcripts`` WITHOUT a blind full rebuild (the don't-
    rebuild-blind gate corpus_diff motivates, now acting on the store):

      - removed convs (live in doc_map, absent from the new corpus)
        are tombstoned;
      - changed convs (content fingerprint differs from the
        ``conv_hashes`` table the build/sync maintains) are tombstoned
        AND re-folded under fresh doc ids — the reference's re-POST =
        DELETE + add lifecycle (app/handler/indexer.go:46-163) as one
        batch plan;
      - added convs fold in as one new shard
        (streaming.ingest.fold_turns — the merge_stream core);
      - unchanged convs are untouched: no tokenize, no re-encode.

    ``compact_after=True`` (default) physically drops the tombstoned
    docs and refreshes df/avgdl, after which queries are rank- and
    score-identical to a fresh build of the new corpus (tested).
    With ``compact_after=False`` the sync is cheaper (no rewrite);
    dead docs stay suppressed by the tombstone anti-join and global
    stats are refreshed only over live+dead shards — the same
    documented staleness as delete-without-compact.

    Stores built before conv_hashes existed: present convs can't be
    change-checked (no stored fingerprint) and are treated as
    unchanged; the sync writes the table, so the NEXT sync detects
    changes. Returns {"added", "changed", "removed", "unchanged"}
    conv counts.

    Scale shape: the diff is three conv-scale joins (conv_id,
    content_hash — narrow rows, ~1e9 convs is tens of GB shuffled,
    not the corpus); only added+changed conversations' turns are
    scanned/tokenized; the fold is one appended shard.
    """
    from ..streaming.ingest import _resume_unfinalized, fold_turns

    heal(store.root)
    _resume_unfinalized(spark, store)

    new_h = conv_content_hashes(new_transcripts).persist()
    dm = spark.read.parquet(store.path("doc_map"))
    dead = tombstoned_convs(spark, store).select("doc_id")
    live = (
        dm.join(dead, "doc_id", "left_anti").select("conv_id").distinct().persist()
    )
    # counted EAGERLY: every count below must see the PRE-sync state,
    # and the fold's doc_map append invalidates the file listing under
    # the cached plan (a lazy re-count would include the new convs).
    n_live = live.count()

    new_convs = new_h.select("conv_id")
    removed = live.join(new_convs, "conv_id", "left_anti")

    hashes_path = store.path("conv_hashes")
    if _exists(spark, hashes_path):
        old_h = spark.read.parquet(hashes_path)
        changed = (
            live.join(old_h, "conv_id")
            .join(new_h.withColumnRenamed("content_hash", "_new"), "conv_id")
            .where(F.col("content_hash") != F.col("_new"))
            .select("conv_id")
            .distinct()
        )
    else:
        changed = spark.createDataFrame([], "conv_id string")
    changed = changed.persist()
    n_changed = changed.count()

    victims = removed.unionByName(changed).persist()
    n_victims_convs = victims.count()
    n_removed = n_victims_convs - n_changed
    if n_victims_convs:
        delete_convs(spark, store, victims)

    # added + changed = new convs minus the live-and-unchanged set
    keep = live.join(changed, "conv_id", "left_anti")
    to_add = new_convs.join(keep, "conv_id", "left_anti")
    fresh = new_transcripts.join(to_add, "conv_id", "left_semi")
    n_folded = fold_turns(spark, store, fresh)
    n_added = n_folded - n_changed

    # refresh the fingerprints to exactly the new corpus
    new_h.write.parquet(os.path.join(swap_stage(store.root, "sync"), "conv_hashes"))
    commit_swap(store.root, "sync", [("conv_hashes", "conv_hashes", [])])

    n_unchanged = n_live - n_changed - n_removed
    for df in (new_h, live, changed, victims):
        df.unpersist()
    if compact_after and n_victims_convs:
        compact(spark, store)
    return {
        "added": n_added,
        "changed": n_changed,
        "removed": n_removed,
        "unchanged": n_unchanged,
    }


def tombstoned_convs(spark: SparkSession, store: IndexStore) -> DataFrame:
    p = store.path("tombstones")
    if not _exists(spark, p):
        return spark.createDataFrame([], "doc_id long, conv_id string, deleted_at double")
    return spark.read.parquet(p)


def tombstoned_doc_ids(spark: SparkSession, store: IndexStore) -> list[int]:
    return [r["doc_id"] for r in tombstoned_convs(spark, store).select("doc_id").collect()]


def compact(spark: SparkSession, store: IndexStore) -> None:
    """Physically drop tombstoned docs (segment-merge analog).

    Rewrites postings/blocks/doc_meta/doc_map without the tombstoned
    doc ids, refreshes term_stats/corpus/corpus_prior and clears
    tombstones: each table is staged once and all of them swap in
    under one journal (module docstring). On Iceberg this is a
    row-level DELETE + expire_snapshots; on parquet we rewrite the
    anti-joined tables. Note df/avgdl change on compaction — scores
    after compact equal a fresh build without the deleted convs
    (verified in tests).
    """
    heal(store.root)
    dead = tombstoned_convs(spark, store).select("doc_id").distinct()
    if not dead.count():
        return
    stage = swap_stage(store.root, "compact")

    def staged(name: str) -> str:
        return os.path.join(stage, name)

    # Rewrites keep the shard=K partition layout (everything folds into
    # shard=0): writing FLAT files under the root would leave any LATER
    # merge_stream shard=N directory in a mixed flat+partitioned layout
    # that Spark's partition discovery rejects.
    for name in ("postings", "doc_meta"):
        kept = spark.read.parquet(store.path(name)).join(dead, "doc_id", "left_anti")
        kept.drop("shard").write.parquet(staged(f"{name}/shard=0"))
    # doc_map must drop the victims too: membership (check) and the
    # merge re-POST filter read it, and a conv whose postings were
    # physically removed must read as NOT indexed (re-streaming it
    # later re-indexes under a fresh doc id).
    dm = spark.read.parquet(store.path("doc_map")).join(dead, "doc_id", "left_anti")
    dm.write.parquet(staged("doc_map"))
    postings = spark.read.parquet(staged("postings"))
    doc_meta = spark.read.parquet(staged("doc_meta"))
    term_stats, corpus = global_stats(postings, doc_meta)
    term_stats.write.parquet(staged("term_stats"))
    corpus.write.parquet(staged("corpus"))
    # keep the sharded-build prior in sync so later appends encode
    # bounds against the post-compaction avgdl (the same one-row table)
    shutil.copytree(staged("corpus"), staged("corpus_prior"))

    from ..plans.materialize import Materialized

    pseudo = Index(
        postings=postings,
        doc_meta=doc_meta,
        term_stats=term_stats,
        corpus=corpus,
        mat=Materialized(turns=None, docs=None),
    )
    # blocks must be re-encoded (a dead doc may sit mid-block): rebuild
    # from the compacted posting table via the same block builder.
    write_blocks(build_block_index(pseudo, store.cfg).blocks, staged("blocks/shard=0"))
    tables = ("postings", "doc_meta", "blocks", "term_stats", "corpus", "corpus_prior")
    # tombstones served their purpose: they go with the doc_map swap
    commit_swap(
        store.root,
        "compact",
        [(t, t, []) for t in tables] + [("doc_map", "doc_map", ["tombstones"])],
    )


def merge_shards_tiered(
    spark: SparkSession, store: IndexStore, merge_factor: int = 4
) -> int:
    """Selective size-tiered SHARD merge for the text index (round 5)
    — :func:`tiered_merge_plan` executed against the store's own shard
    census, the same policy object that drives the HNSW store's
    ``merge_hnsw_tiered``: streaming fold-in (`merge_stream`) keeps
    appending small ``shard=N`` partitions, and this is the compaction
    that folds complete groups of similar-sized shards into one —
    Lucene's TieredMergePolicy against Solr's continuously-POSTed core
    (SURVEY §2 Q7), per group instead of the full rewrite
    :func:`compact` performs.

    Per planned group: the members' postings and doc_meta concatenate
    unchanged (doc ids are global — a shard is just a storage
    partition), the group's blocks RE-ENCODE from the union postings
    against the store's GLOBAL corpus stats (same rule as the sharded
    build, so WAND bounds stay exact), and the three tables swap in as
    ``shard=min(members)`` through the journaled stage (module
    docstring), replacing the members. df/avgdl are untouched (no docs
    added or removed), so query results are rank-identical before and
    after (asserted in tests). A lineage row per group follows its
    swap; a merge finished by :func:`heal` records none.

    Returns the number of merge groups executed (0 = nothing to do)."""
    heal(store.root)
    census = (
        spark.read.parquet(store.path("doc_meta"))
        .groupBy(F.col("shard").cast("long").alias("seg"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    plan = tiered_merge_plan(census, merge_factor=merge_factor).collect()
    if not plan:
        return 0
    crow = spark.read.parquet(store.path("corpus")).first()
    gstats = (int(crow["n_docs"]), float(crow["avgdl"]))
    from ..plans.materialize import Materialized

    stage = swap_stage(store.root, "merge")
    tables = ("postings", "doc_meta", "blocks")
    for row in plan:
        members = sorted(int(s) for s in row["seg_ids"].split(","))
        target = members[0]
        for name in ("postings", "doc_meta"):
            spark.read.parquet(store.path(name)).where(
                F.col("shard").isin(members)
            ).drop("shard").write.parquet(os.path.join(stage, name))
        pseudo = Index(
            postings=spark.read.parquet(os.path.join(stage, "postings")),
            doc_meta=spark.read.parquet(os.path.join(stage, "doc_meta")),
            term_stats=spark.read.parquet(store.path("term_stats")),
            corpus=spark.read.parquet(store.path("corpus")),
            mat=Materialized(turns=None, docs=None),
        )
        bidx = build_block_index(pseudo, store.cfg, corpus_stats=gstats)
        write_blocks(bidx.blocks, os.path.join(stage, "blocks"))
        commit_swap(
            store.root,
            "merge",
            [
                (t, f"{t}/shard={target}", [f"{t}/shard={m}" for m in members])
                for t in tables
            ],
        )
        # lineage: one manifest row per executed merge (the census
        # counted the members' doc_meta rows)
        spark.createDataFrame(
            [(
                "tiered-merge", int(target), "done", int(row["total_docs"]), 0, 0,
                0, 0.0, 0.0,
            )],
            MANIFEST_SCHEMA,
        ).write.mode("append").parquet(store.path("manifest"))
    return len(plan)


def build_metrics(spark: SparkSession, store: IndexStore) -> DataFrame:
    """Lineage/metrics table: one row per built shard (build_id, counts,
    wall_sec, turns/sec) — the reference's log-sink analog (S11) as a
    queryable table."""
    m = spark.read.parquet(store.path("manifest"))
    return m.withColumn(
        "turns_per_sec",
        F.when(F.col("wall_sec") > 0, F.col("n_turns") / F.col("wall_sec")),
    )


def atomic_update(
    base: DataFrame,
    updates: DataFrame,
    key: str = "conv_id",
    broadcast_updates: bool = True,
) -> DataFrame:
    """Solr atomic update (``{"set": ..., "inc": ...}`` field
    modifiers) / Iceberg ``MERGE INTO`` analog, as one declarative
    plan.

    A stock Solr core accepts partial-document updates: ``set``
    replaces a field, ``inc`` adds to a numeric field, and an unknown
    id inserts a fresh doc (upsert). The reference's users mutate the
    index through exactly this surface (the Go app itself only
    POSTs/DELETEs whole items, app/process/solr.go:139-168, so field
    updates are the stored core's own capability).

    ``updates`` carries the key plus ``set_<col>`` and/or ``inc_<col>``
    columns; any base column without a modifier passes through. Rows
    whose key is absent from ``base`` become inserts: ``set`` values
    land as-is, ``inc`` starts from 0 (Solr's rule), everything else
    stays NULL (a sparse upserted doc). The update batch must be
    key-unique — the same precondition SQL MERGE INTO enforces (it
    errors on multiple source matches); a duplicated key here would
    fan out the joined base row instead.

    Plan shape — the base table NEVER shuffles:
    - update leg: base LEFT-joins the (broadcast) update batch and
      applies the modifiers as pure column math;
    - insert detection: a broadcast LEFT-SEMI join projects the <=
      |updates| keys already present, and the insert rows come from a
      tiny anti-join of the update batch against that k-row frame.
    With ``broadcast_updates=False`` (a bulk backfill rather than a
    trickle) both legs degrade to one shuffle-on-key join each — the
    same exchange an Iceberg MERGE INTO would plan.
    """
    set_cols = {c[4:]: c for c in updates.columns if c.startswith("set_")}
    inc_cols = {c[4:]: c for c in updates.columns if c.startswith("inc_")}
    unknown = (set_cols.keys() | inc_cols.keys()) - set(base.columns)
    if unknown:
        raise ValueError(f"modifiers target unknown columns: {sorted(unknown)}")
    upd = F.broadcast(updates) if broadcast_updates else updates

    def _modified(c: str):
        expr = F.col(c)
        if c in set_cols:
            expr = F.coalesce(F.col(set_cols[c]), expr)
        if c in inc_cols:
            expr = F.when(
                F.col(inc_cols[c]).isNotNull(),
                F.coalesce(expr, F.lit(0)) + F.col(inc_cols[c]),
            ).otherwise(expr)
        return expr.alias(c)

    updated = base.join(upd, key, "left").select(
        F.col(key), *[_modified(c) for c in base.columns if c != key]
    )

    present = base.select(key).join(upd.select(key), key, "left_semi")

    def _inserted(field):
        c = field.name
        if c in set_cols:
            expr = F.col(set_cols[c]).cast(field.dataType)
        elif c in inc_cols:
            expr = F.col(inc_cols[c]).cast(field.dataType)
        else:
            expr = F.lit(None).cast(field.dataType)
        return expr.alias(c)

    inserts = updates.join(F.broadcast(present), key, "left_anti").select(
        F.col(key),
        *[_inserted(f) for f in base.schema.fields if f.name != key],
    )
    return updated.unionByName(inserts)


def tiered_merge_plan(
    segments: DataFrame, merge_factor: int = 4, max_merged_docs: int | None = None
) -> DataFrame:
    """Size-tiered merge planning — the Lucene TieredMergePolicy /
    size-tiered-compaction analog for the store's shard manifest: the
    policy Solr runs continuously inside the core the reference writes
    to (segment merging is what made its repeated POST /item/{id}
    builds stay queryable — SURVEY §2 Q7), surfaced here as an explicit
    PLAN over a (seg, n_docs) relation so the engine's compact/merge
    ops (:func:`compact`, streaming fold-in shards) can be driven by
    policy instead of manually.

    Tiering rule (deterministic, integer-exact): ``tier =
    bit_length(n_docs) - 1`` (= floor(log2) with NO floating log — the
    length(bin()) discipline, exact on both engines). Within a tier,
    segments sort (n_docs ASC, seg ASC) and group into COMPLETE
    ``merge_factor``-sized candidates — merging similar-sized segments
    is the whole point of tiering (merging a giant with a dwarf
    rewrites the giant for nothing); leftovers wait for the tier to
    fill. ``max_merged_docs`` drops plans whose merged size would
    exceed the cap (Lucene's maxMergedSegmentMB analog).

    Returns (tier, merge_ord, n_segs, seg_ids, total_docs) ordered
    (tier, merge_ord); ``seg_ids`` is the comma-joined sorted member
    list. Plan: one tier-keyed window pass + one group aggregate —
    manifest-scale rows throughout, never doc rows."""
    from pyspark.sql.window import Window

    mf = int(merge_factor)
    t = segments.where(F.col("n_docs") > 0).withColumn(
        "tier", (F.length(F.bin("n_docs")) - F.lit(1)).cast("int")
    )
    w = Window.partitionBy("tier").orderBy(F.asc("n_docs"), F.asc("seg"))
    r = t.withColumn("rn", F.row_number().over(w)).withColumn(
        "merge_ord", F.floor((F.col("rn") - 1) / F.lit(mf)).cast("int")
    )
    grp = (
        r.groupBy("tier", "merge_ord")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segs"),
            F.concat_ws(",", F.sort_array(F.collect_list("seg"))).alias(
                "seg_ids"
            ),
            F.sum("n_docs").cast("long").alias("total_docs"),
        )
        .where(F.col("n_segs") == F.lit(mf))
    )
    if max_merged_docs is not None:
        grp = grp.where(F.col("total_docs") <= F.lit(int(max_merged_docs)))
    return grp.orderBy("tier", "merge_ord")
