"""Index lifecycle: persisted store, resumable build, delete, check (M4).

The reference's HTTP lifecycle (app/main.go:94-116) mapped to jobs:

- POST /item  -> :func:`build_store` — the index build, one commit per
  shard so a killed job resumes without redoing finished shards (the
  GET-before-POST idempotency analog, app/handler/indexer.go:27-41).
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
    {root}/blocks/shard=K/          (term, range) block-max bound rows
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

Every store mutation — the build (:func:`build_store`, one commit for
its step 0, one per shard, one for its finalize), :func:`delete_convs`,
:func:`compact`, :func:`sync_store`, :func:`merge_shards_tiered`, the
stream fold-in (``streaming.ingest.merge_stream``), the HNSW store's
append, tiered merge and force merge, and the ANN store's build and
append — is a transaction under one protocol:

1. stage: the replacement tables, and the part files an append adds
   (doc_map, manifest, tombstone and ANN partition rows), are written
   under ``{root}/_swap_<name>/`` (Spark's listing hides
   ``_``-prefixed paths); the live tables are not touched;
2. commit: ``journal.json`` is written atomically (tmp file +
   ``os.replace``). It lists steps ``(src in stage, dst, paths to drop
   first)``; an append is one step that moves every staged part file
   of the table into the live table's directory, and a step without a
   ``src`` only drops ``dst``;
3. swap: replay runs the steps in order — drop, then rename ``src`` to
   ``dst`` — and skips a step whose ``src`` is already gone (an append
   moves only the part files still staged; Spark part names are
   unique), so a replay can restart from any crash point;
4. heal: :func:`heal` finishes every journaled stage and discards every
   stage without a journal (the crash came before the commit, so the
   live tables are intact and a re-run repeats the op with the same
   doc ids and shard number).

The fold (:func:`_stage_fold`, shared by ``sync_store`` and
``merge_stream``) stages a new ``shard=N`` plus its doc_map rows,
term_stats, corpus, corpus_prior and lineage row; the sync adds its
tombstone rows and ``conv_hashes`` to the same journal.

Every read of a store table — text, HNSW and ANN stores and the
streaming tables — goes through one reader, :func:`read_table`: it
takes the table's schema from the Spark footer key of its first part
file, found by a driver-side directory walk, so opening a store
(:func:`load_index`, :func:`load_block_index`,
:func:`tombstoned_convs`) runs no Spark job.

Contract: one writer per store. Every mutating entry point heals
first; readers do not heal, so after a crash inside a swap the store
reads correctly again once the next mutating call (or :func:`heal`)
has run. No store table but the input staging table ``stream_turns``
(``streaming.ingest``) is written outside a stage, so a table exists
only once its commit has run and a driver-side ``os.path.isdir``
tells whether it does. Renames and the reader's footer walk are
driver-local filesystem ops, so the root must be on a filesystem the
driver addresses directly (a local or NFS path, optionally
``file://``; on object stores swap via the catalog instead).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, IndexConfig
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
TOMBSTONES_SCHEMA = "doc_id long, conv_id string, deleted_at double"


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Open the store table at ``path`` with the schema Spark wrote into
    the footer of its first part file (the key Spark's own inference
    reads, mergeSchema off), so opening it runs no Spark job. Partition
    columns (``shard=K``) are discovered from the paths, as with
    inference. A table without that key (not written by Spark), or a
    root the driver cannot list (hdfs://, s3a://, which :func:`check`
    serves), is opened by inference."""
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(path: str) -> T.StructType | None:
    """The Spark schema in the footer of the first part file under
    ``path``, found by a sorted walk that skips ``_``/``.`` entries and
    stops at its first hit."""
    import pyarrow.parquet as pq

    for top, dirs, files in os.walk(path.removeprefix("file://")):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        parts = sorted(f for f in files if not f.startswith(("_", ".")))
        if parts:
            meta = pq.read_metadata(os.path.join(top, parts[0])).metadata or {}
            raw = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
            return T.StructType.fromJson(json.loads(raw)) if raw else None
    return None


def _row_count(path: str) -> int:
    """Rows of the parquet table at ``path``, from its footers (no
    Spark job)."""
    import pyarrow.dataset as pads

    return pads.dataset(path, format="parquet").count_rows()


def swap_stage(root: str, name: str) -> str:
    """The stage directory of the rewrite called ``name``."""
    return os.path.join(root, f"_swap_{name}")


def commit_swap(root: str, name: str, steps: list[tuple[str, str, list[str]]]) -> None:
    """Commit the rewrite staged under ``swap_stage(root, name)`` and swap
    it in. ``steps`` are ``(src, dst, drops)``: ``src`` relative to the
    stage, ``dst`` and ``drops`` relative to ``root``. A ``src`` of
    ``"<dir>/*"`` appends: the staged part files move into ``dst``. A
    ``src`` of None drops ``dst``, and its parent once that is empty."""
    stage = swap_stage(root, name)
    os.makedirs(stage, exist_ok=True)
    _write_journal(stage, steps)
    _replay(root, stage)


def _write_journal(stage: str, steps) -> None:
    tmp = os.path.join(stage, "journal.json.tmp")
    with open(tmp, "w") as f:
        json.dump(steps, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(stage, "journal.json"))


def _journal_steps(stage: str) -> list | None:
    """The committed steps of the stage, or None before its commit."""
    path = os.path.join(stage, "journal.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _replay(root: str, stage: str) -> None:
    for src, dst, drops in _journal_steps(stage):
        _swap_step(root, stage, src, dst, drops)
    shutil.rmtree(stage)


def _swap_step(
    root: str, stage: str, src: str | None, dst: str, drops: list[str]
) -> None:
    target = os.path.join(root, dst)
    if src and src.endswith("/*"):
        # an append: part names are unique, and a file moved by an
        # earlier attempt is no longer in the stage
        parts = os.path.join(stage, src[:-2])
        for f in sorted(os.listdir(parts)) if os.path.isdir(parts) else []:
            if not f.startswith(("_", ".")):
                os.makedirs(target, exist_ok=True)
                os.rename(os.path.join(parts, f), os.path.join(target, f))
        return
    staged = src and os.path.join(stage, src)
    if staged and not os.path.exists(staged):
        return  # swapped in by an earlier attempt
    for rel in (*drops, dst):
        path = os.path.join(root, rel)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
    if not staged:
        # a drop-only step; its parent goes too once nothing is left in it
        parent = os.path.normpath(os.path.dirname(target))
        if parent != os.path.normpath(root) and os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
        return
    os.makedirs(os.path.dirname(target), exist_ok=True)
    os.rename(staged, target)


def heal(root: str) -> int:
    """Finish every journaled swap under ``root`` and discard every
    stage without a journal. Returns the number of swaps finished."""
    healed = 0
    for stage in sorted(glob.glob(os.path.join(glob.escape(root), "_swap_*"))):
        if _journal_steps(stage) is None:
            shutil.rmtree(stage)
        else:
            _replay(root, stage)
            healed += 1
    return healed


def build_store(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    cfg: IndexConfig = DEFAULT,
    n_shards: int = 4,
) -> IndexStore:
    """Build (or resume) a persisted index at ``root`` as a sequence of
    journaled commits (module docstring), each staged under
    ``_swap_build/``:

      0. doc_map and the global corpus_prior, in one commit;
      1. per doc-id shard: materialize + tokenize + postings + blocks
         under ``shard=K`` plus its manifest row (lineage and
         throughput), in one commit per shard;
      2. finalize: term_stats, corpus, corpus_prior and conv_hashes, in
         one commit.

    A table exists only once its commit has run, so resume is
    :func:`heal` followed by skipping what is on disk: step 0 when
    doc_map exists, every shard the manifest lists, and the finalize
    when term_stats exists.
    """
    store = IndexStore(root=root, cfg=cfg)
    heal(root)
    build_id = uuid.uuid4().hex[:12]
    stage = swap_stage(root, "build")

    # --- step 0: checkpointed doc-id assignment + GLOBAL corpus stats ---
    # Global avgdl must exist BEFORE any shard builds: block-max bounds
    # encoded against a shard-local avgdl under-bound whenever that
    # shard's avgdl is below the global one, and WAND would then prune
    # ranges holding true top-k docs (silent wrong results). One cheap
    # token-count scan (no token rows materialized) fixes the stats.
    if not os.path.isdir(store.path("doc_map")):
        from ..functions.tokenizer import count_turn_tokens
        from ..plans.materialize import _assign_doc_ids_deferred, ordered_turns

        ids_df, n_docs, caches = _assign_doc_ids_deferred(ordered_turns(transcripts))
        ids_df.write.parquet(os.path.join(stage, "doc_map"))
        for df in (ids_df, *caches):
            df.unpersist()
        nonempty = transcripts.where(F.length(F.trim(F.col("text"))) > 0)
        (
            count_turn_tokens(nonempty, cfg)
            .agg(F.sum("n_toks").cast("long").alias("total_tokens"))
            .select(
                F.lit(n_docs).cast("long").alias("n_docs"),
                "total_tokens",
                (F.col("total_tokens") / F.lit(n_docs)).alias("avgdl"),
            )
            .write.parquet(os.path.join(stage, "corpus_prior"))
        )
        commit_swap(root, "build", [(t, t, []) for t in ("doc_map", "corpus_prior")])
    doc_map = read_table(spark, store.path("doc_map"))
    # step 0's n_docs is the doc_map's row count; shards leave it as is
    gstats = _corpus_stats(spark, store.path("corpus_prior"))
    n_docs_total = gstats[0]
    shard_width = max(1, -(-n_docs_total // n_shards))

    done = set()
    if os.path.isdir(store.path("manifest")):
        manifest = read_table(spark, store.path("manifest"))
        done = {r["shard"] for r in manifest.where("status = 'done'").select("shard").collect()}
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
        _write_shard(idx.postings, idx.doc_meta, stage, shard, cfg, gstats)
        idx.postings.unpersist()
        idx.mat.unpersist()  # releases docs + the persisted turns base
        counts = _shard_counts(spark, stage, shard)
        lineage = _lineage(spark, build_id, shard, counts, time.perf_counter() - t0)
        commit_swap(
            root,
            "build",
            [(f"{t}/shard={shard}", f"{t}/shard={shard}", []) for t in _SHARD_TABLES]
            + [_stage_append(lineage, stage, "manifest")],
        )

    # --- step 2: finalize global stats ---------------------------------
    if not os.path.isdir(store.path("term_stats")):
        _write_globals(
            stage,
            read_table(spark, store.path("postings")),
            read_table(spark, store.path("doc_meta")),
        )
        # content fingerprints for the incremental sync path
        # (sync_store): one extra narrow md5 groupBy over the input, and
        # the only way a FIRST sync can tell a changed conv from an
        # unchanged one.
        conv_content_hashes(transcripts).write.parquet(os.path.join(stage, "conv_hashes"))
        commit_swap(root, "build", [(t, t, []) for t in (*_GLOBAL_TABLES, "conv_hashes")])
    return store


def global_stats(postings: DataFrame, doc_meta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The dictionary (term, df, cf) and the one-row corpus (n_docs,
    total_tokens, avgdl) of a posting table and its doc_meta."""
    term_stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    # an empty table (every doc compacted away) is (0, 0, 0.0), not NULLs
    corpus = doc_meta.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_tokens"),
        F.coalesce(F.sum("dl") / F.count(F.lit(1)), F.lit(0.0)).alias("avgdl"),
    )
    return term_stats, corpus


def _corpus_stats(spark: SparkSession, path: str) -> tuple[int, float]:
    """(n_docs, avgdl) of a corpus table."""
    row = read_table(spark, path).first()
    return int(row["n_docs"]), float(row["avgdl"])


def _write_globals(dest: str, postings: DataFrame, doc_meta: DataFrame) -> None:
    """Write term_stats and corpus of ``postings``/``doc_meta`` under
    ``dest`` — the store root (the build) or a swap stage — and
    corpus_prior as a file copy of that corpus (the stats a later
    appended shard encodes with)."""
    term_stats, corpus = global_stats(postings, doc_meta)
    term_stats.write.mode("overwrite").parquet(os.path.join(dest, "term_stats"))
    corpus.write.mode("overwrite").parquet(os.path.join(dest, "corpus"))
    prior = os.path.join(dest, "corpus_prior")
    shutil.rmtree(prior, ignore_errors=True)
    shutil.copytree(os.path.join(dest, "corpus"), prior)


def write_blocks(blocks: DataFrame, path: str) -> None:
    """Write the bound rows clustered + sorted by term, so query-time
    `term IN (...)` filters prune parquet row groups via min/max stats
    (the file-level analog of Iceberg bucket(term) partitioning)."""
    blocks.repartition(F.col("term")).sortWithinPartitions(
        "term", "range_id"
    ).write.mode("overwrite").parquet(path)


_SHARD_TABLES = ("postings", "doc_meta", "blocks")
_GLOBAL_TABLES = ("term_stats", "corpus", "corpus_prior")


def _write_shard(
    postings: DataFrame,
    doc_meta: DataFrame,
    dest: str,
    shard: int,
    cfg: IndexConfig,
    stats: tuple[int, float],
) -> None:
    """Write one shard's postings, doc_meta and blocks under
    ``{dest}/<table>/shard=N`` — ``dest`` is the store root (the build)
    or a swap stage. Block bounds use the GLOBAL ``stats`` =
    (n_docs, avgdl), from ``postings`` when it is cached (a fresh
    build or fold), else from the table just written instead of
    re-running its plan."""

    def path(table: str) -> str:
        return os.path.join(dest, table, f"shard={shard}")

    postings.write.mode("overwrite").parquet(path("postings"))
    doc_meta.write.mode("overwrite").parquet(path("doc_meta"))
    if not postings.is_cached:
        postings = read_table(postings.sparkSession, path("postings"))
    blocks = build_block_index(
        Index(postings, doc_meta, term_stats=None, corpus=None, mat=None),
        cfg,
        corpus_stats=stats,
    ).blocks
    write_blocks(blocks, path("blocks"))


def _shard_counts(spark: SparkSession, dest: str, shard: int) -> tuple[int, int, int, int]:
    """(n_convs, n_turns, n_postings, n_blocks) of a shard written by
    :func:`_write_shard`, from its parquet, not a re-run of the
    tokenize+bound DAG: row counts from the footers (n_blocks counts
    the shard's (term, range) bound rows; every posting falls in
    exactly one, so n_postings is also Σ blocks.n_docs) and one
    aggregate for n_turns."""

    def path(table: str) -> str:
        return os.path.join(dest, table, f"shard={shard}")

    n_turns = read_table(spark, path("doc_meta")).agg(F.sum("n_turns")).first()[0]
    n_postings, n_convs, n_blocks = (_row_count(path(t)) for t in _SHARD_TABLES)
    return n_convs, int(n_turns or 0), n_postings, n_blocks


def _lineage(
    spark: SparkSession, build_id: str, shard: int, counts: tuple, wall: float
) -> DataFrame:
    """One ``done`` manifest row (build_id, shard, counts, wall)."""
    return spark.createDataFrame(
        [(build_id, int(shard), "done", *counts, float(wall), time.time())],
        MANIFEST_SCHEMA,
    )


def _stage_append(df: DataFrame, stage: str, table: str) -> tuple:
    """Stage the rows ``df`` appends to ``table``; returns the journal
    step that moves their part files into the live table."""
    df.write.parquet(os.path.join(stage, table))
    return (f"{table}/*", table, [])


def _stage_fold(
    spark: SparkSession, store: IndexStore, fresh: DataFrame, stage: str
) -> tuple[int, list]:
    """The fold shared by :func:`sync_store` and
    ``streaming.ingest.merge_stream``: stage the build of the ``fresh``
    turns as ONE new shard, writing nothing live.

    Doc ids follow the live doc_map's max and the shard number is the
    manifest's max + 1 — both read from live tables, so a re-run after
    a crash before the commit repeats them. Staged: the shard's
    postings, doc_meta and blocks (bounded against the post-fold global
    stats, as a batch build of the union would), its doc_map rows,
    term_stats/corpus over the live plus the staged tables,
    corpus_prior, and one lineage row. Older shards' blocks keep their
    build avgdl — the WAND bound scales by max(1, avgdl_now /
    avgdl_built) at query time, so pruning stays exact.

    Returns the number of conversations folded (0: nothing staged) and
    the journal steps that publish the fold."""
    from ..plans.materialize import assign_doc_ids, ordered_turns

    turns = ordered_turns(fresh)
    n_new = turns.select("conv_id").distinct().count()
    if n_new == 0:
        return 0, []
    doc_map = read_table(spark, store.path("doc_map"))
    top = doc_map.agg(F.max("doc_id")).first()[0]
    base = 0 if top is None else top + 1  # None: every doc compacted away
    manifest = read_table(spark, store.path("manifest"))
    shard = 1 + max((r["shard"] for r in manifest.select("shard").collect()), default=-1)
    ids0 = assign_doc_ids(turns)
    new_map = ids0.withColumn("doc_id", (F.col("doc_id") + F.lit(base)).cast("long"))
    new_map.persist()
    idx = build_postings(fresh, store.cfg, doc_map=new_map, n_docs_hint=n_new)
    idx.doc_meta.persist()  # read by the globals, then written

    def union(table: str, new: DataFrame, *cols: str) -> DataFrame:
        return read_table(spark, store.path(table)).select(*cols).unionByName(
            new.select(*cols)
        )

    # Unpersist in a FINALLY: a crash that leaves these frames cached
    # poisons a same-session retry — Spark's plan cache matches the
    # retry's identical logical plan and serves stale rows.
    try:
        _write_globals(
            stage,
            union("postings", idx.postings, "term", "tf"),
            union("doc_meta", idx.doc_meta, "dl"),
        )
        gstats = _corpus_stats(spark, os.path.join(stage, "corpus"))
        _write_shard(idx.postings, idx.doc_meta, stage, shard, store.cfg, gstats)
        steps = [(f"{t}/shard={shard}", f"{t}/shard={shard}", []) for t in _SHARD_TABLES]
        steps.append(_stage_append(new_map, stage, "doc_map"))
        steps += [(t, t, []) for t in _GLOBAL_TABLES]
        counts = _shard_counts(spark, stage, shard)
        lineage = _lineage(spark, "stream-merge", shard, counts, 0.0)
        steps.append(_stage_append(lineage, stage, "manifest"))
    finally:
        new_map.unpersist()
        ids0.unpersist()
        idx.doc_meta.unpersist()
        idx.postings.unpersist()
        idx.mat.unpersist()  # docs + the persisted turns base
    return n_new, steps


def _heal_fold(spark: SparkSession, store: IndexStore, name: str) -> int:
    """:func:`heal` the store; returns the number of conversations that
    a fold committed under the swap ``name`` and finished by this heal
    published (the docs of its shard), 0 when none was pending."""
    steps = _journal_steps(swap_stage(store.root, name)) or []
    heal(store.root)
    return sum(_row_count(store.path(dst)) for _, dst, _ in steps if dst.startswith("doc_meta/"))


def load_index(spark: SparkSession, store: IndexStore) -> Index:
    """Open the persisted store as a postings-level Index — the surface
    the AND / phrase / NOT query operators run against (the block index
    adds the (term, range) bounds bag-of-words WAND prunes with; every
    operator reads the posting table, term-pruned at the parquet
    scan)."""
    from ..plans.materialize import Materialized

    return Index(
        postings=read_table(spark, store.path("postings")),
        doc_meta=read_table(spark, store.path("doc_meta")),
        term_stats=read_table(spark, store.path("term_stats")),
        corpus=read_table(spark, store.path("corpus")),
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

    turns = ordered_turns(transcripts).join(read_table(spark, store.path("doc_map")), "conv_id")
    return replace(load_index(spark, store), mat=Materialized(turns=turns, docs=None))


def load_block_index(spark: SparkSession, store: IndexStore) -> BlockIndex:
    """Open the persisted store for querying (bounds, postings and
    dictionary)."""
    return BlockIndex(
        blocks=read_table(spark, store.path("blocks")),
        postings=read_table(spark, store.path("postings")),
        term_stats=read_table(spark, store.path("term_stats")),
        doc_meta=read_table(spark, store.path("doc_meta")),
        corpus=read_table(spark, store.path("corpus")),
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
    dm = read_table(spark, store.path("doc_map")).where(F.col("conv_id") == conv_id)
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
    """DELETE: record a tombstone (:func:`delete_convs` of one conv).
    Like the reference we capture the doc ids BEFORE logically removing
    them (app/process/solr.go:25-34 — the index is the only place
    they're recorded)."""
    delete_convs(spark, store, spark.createDataFrame([(conv_id,)], "conv_id string"))


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
    Already-tombstoned doc ids are skipped so repeated deletes don't
    grow the tombstone table. The rows are staged and committed through
    one journal (module docstring). Returns the number of docs
    tombstoned."""
    heal(store.root)
    stage = swap_stage(store.root, "delete")
    step = _stage_tombstones(spark, store, convs, stage)
    n = _row_count(os.path.join(stage, "tombstones"))
    if n:
        commit_swap(store.root, "delete", [step])
    else:
        shutil.rmtree(stage)
    return n


def _stage_tombstones(
    spark: SparkSession, store: IndexStore, convs: DataFrame, stage: str
) -> tuple:
    """Stage a tombstone row for every doc id of the conversations in
    ``convs`` (a conv_id frame) that is live in doc_map and not yet
    tombstoned; returns the journal step that appends them."""
    dead = tombstoned_convs(spark, store).select("doc_id")
    victims = (
        read_table(spark, store.path("doc_map"))
        .join(convs.select("conv_id"), "conv_id", "left_semi")
        .join(dead, "doc_id", "left_anti")
        .withColumn("deleted_at", F.lit(time.time()))
    )
    return _stage_append(victims, stage, "tombstones")


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
      - added convs fold in as one new shard (:func:`_stage_fold`,
        the merge_stream core);
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

    One transaction: the tombstone rows, the fold
    (:func:`_stage_fold`) and the new ``conv_hashes`` are staged and
    committed under one journal (module docstring). A crash before the
    commit leaves the store as it was, and a re-run repeats the sync
    with the same doc ids; after it, :func:`heal` finishes the sync and
    a re-run finds nothing to do.
    """
    heal(store.root)
    stage = swap_stage(store.root, "sync")

    new_h = conv_content_hashes(new_transcripts).persist()
    dm = read_table(spark, store.path("doc_map"))
    dead = tombstoned_convs(spark, store).select("doc_id")
    live = (
        dm.join(dead, "doc_id", "left_anti").select("conv_id").distinct().persist()
    )
    cached = [new_h, live]
    try:
        n_live = live.count()
        new_convs = new_h.select("conv_id")
        removed = live.join(new_convs, "conv_id", "left_anti")

        hashes_path = store.path("conv_hashes")
        if os.path.isdir(hashes_path):
            old_h = read_table(spark, hashes_path)
            changed = (
                live.join(old_h, "conv_id")
                .join(new_h.withColumnRenamed("content_hash", "_new"), "conv_id")
                .where(F.col("content_hash") != F.col("_new"))
                .select("conv_id")
                .distinct()
            )
        else:
            changed = spark.createDataFrame([], "conv_id string")
        cached.append(changed.persist())
        n_changed = changed.count()
        victims = removed.unionByName(changed).persist()
        cached.append(victims)
        n_victims_convs = victims.count()
        n_removed = n_victims_convs - n_changed

        steps = []
        if n_victims_convs:
            steps.append(_stage_tombstones(spark, store, victims, stage))

        # added + changed = new convs minus the live-and-unchanged set
        keep = live.join(changed, "conv_id", "left_anti")
        to_add = new_convs.join(keep, "conv_id", "left_anti")
        fresh = new_transcripts.join(to_add, "conv_id", "left_semi")
        n_folded, fold_steps = _stage_fold(spark, store, fresh, stage)

        # the fingerprints become exactly the new corpus's
        new_h.write.parquet(os.path.join(stage, "conv_hashes"))
        commit_swap(
            store.root, "sync", steps + fold_steps + [("conv_hashes", "conv_hashes", [])]
        )
    finally:
        for df in cached:
            df.unpersist()
    if compact_after and n_victims_convs:
        compact(spark, store)
    return {
        "added": n_folded - n_changed,
        "changed": n_changed,
        "removed": n_removed,
        "unchanged": n_live - n_changed - n_removed,
    }


def tombstoned_convs(spark: SparkSession, store: IndexStore) -> DataFrame:
    """The tombstone table (doc_id, conv_id, deleted_at); opening it
    runs no Spark job."""
    p = store.path("tombstones")
    if not os.path.isdir(p):
        return spark.createDataFrame([], TOMBSTONES_SCHEMA)
    return read_table(spark, p)


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
    dead = tombstoned_convs(spark, store).select("doc_id").distinct().persist()
    try:
        if dead.count():
            _stage_compact(spark, store, dead)
    finally:
        dead.unpersist()


def _stage_compact(spark: SparkSession, store: IndexStore, dead: DataFrame) -> None:
    """Stage the store without the ``dead`` doc ids and commit it."""
    stage = swap_stage(store.root, "compact")

    def kept(name: str) -> DataFrame:
        return read_table(spark, store.path(name)).join(dead, "doc_id", "left_anti")

    # Rewrites keep the shard=K partition layout (everything folds into
    # shard=0): writing FLAT files under the root would leave any LATER
    # merge_stream shard=N directory in a mixed flat+partitioned layout
    # that Spark's partition discovery rejects. Block bounds are
    # rebuilt (a dead doc may hold a range's max) against the compacted
    # corpus, and corpus_prior follows it so later appends bound against
    # the post-compaction avgdl.
    postings, doc_meta = kept("postings").drop("shard"), kept("doc_meta").drop("shard")
    _write_globals(stage, postings, doc_meta)
    gstats = _corpus_stats(spark, os.path.join(stage, "corpus"))
    _write_shard(postings, doc_meta, stage, 0, store.cfg, gstats)
    # doc_map must drop the victims too: membership (check) and the
    # merge re-POST filter read it, and a conv whose postings were
    # physically removed must read as NOT indexed (re-streaming it
    # later re-indexes under a fresh doc id).
    kept("doc_map").write.parquet(os.path.join(stage, "doc_map"))
    # tombstones served their purpose: they go with the doc_map swap
    commit_swap(
        store.root,
        "compact",
        [(t, t, []) for t in _SHARD_TABLES + _GLOBAL_TABLES]
        + [("doc_map", "doc_map", ["tombstones"])],
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
    partition), the group's block bounds REBUILD from the union postings
    against the store's GLOBAL corpus stats (same rule as the sharded
    build, so WAND bounds stay exact), and the three tables swap in as
    ``shard=min(members)`` through the journaled stage (module
    docstring), replacing the members, together with the group's
    lineage row. df/avgdl are untouched (no docs added or removed), so
    query results are rank-identical before and after (asserted in
    tests).

    Returns the number of merge groups executed (0 = nothing to do)."""
    heal(store.root)
    census = (
        read_table(spark, store.path("doc_meta"))
        .groupBy(F.col("shard").cast("long").alias("seg"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    plan = tiered_merge_plan(census, merge_factor=merge_factor).collect()
    if not plan:
        return 0
    gstats = _corpus_stats(spark, store.path("corpus"))
    stage = swap_stage(store.root, "merge")
    for row in plan:
        members = sorted(int(s) for s in row["seg_ids"].split(","))
        target = members[0]

        def group(name: str) -> DataFrame:
            return read_table(spark, store.path(name)).where(
                F.col("shard").isin(members)
            ).drop("shard")

        _write_shard(group("postings"), group("doc_meta"), stage, target, store.cfg, gstats)
        # lineage: the census counted the members' doc_meta rows
        lineage = _lineage(spark, "tiered-merge", target, (int(row["total_docs"]), 0, 0, 0), 0.0)
        commit_swap(
            store.root,
            "merge",
            [
                (f"{t}/shard={target}", f"{t}/shard={target}", [f"{t}/shard={m}" for m in members])
                for t in _SHARD_TABLES
            ]
            + [_stage_append(lineage, stage, "manifest")],
        )
    return len(plan)


def build_metrics(spark: SparkSession, store: IndexStore) -> DataFrame:
    """Lineage/metrics table: one row per built shard (build_id, counts,
    wall_sec, turns/sec) — the reference's log-sink analog (S11) as a
    queryable table."""
    m = read_table(spark, store.path("manifest"))
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
