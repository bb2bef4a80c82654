"""Repository benchmark: seeded workloads over the library's public
entry points, oracle-checked, with an optional traced per-layer run.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Workloads (one client, closed loop, ``local[$(nproc)]``):

- ``search``  read-only. Set-up: session start, a one-shard
  ``build_store`` of 500 conversations (~10k turns) and
  ``load_block_index`` / ``load_index``. Timed: a fixed seeded query
  mix, one query at a time (OR bags through ``wand_topk``, AND through
  ``conjunctive_topk``, phrases through ``phrase_topk``), then
  ``bm25_batch_topk`` over the same queries.
- ``churn``   writes beside reads on a store built the same way. Timed:
  ``sync_store(compact_after=False)`` on a seeded 1% delta, a reload,
  queries and the batch call with the tombstones live, then ``compact``.

Both workloads report the same end-to-end metrics; the build each one
does in set-up gives ``build_turns_per_s``, as the first Spark work of a
fresh session, which is what the CLI ``build`` user pays.

The timed part is a fixed amount of seeded work, so a faster program
runs the same operations; ``--seconds`` is validated and recorded.
Every result is checked outside the timed region (perfbench/checks.py).
With ``--trace 1`` every public call runs under its own Spark job group
and the run reports per-layer metrics instead of end-to-end ones; the
spans are written as JSON lines under ``.perfbench_work/traces/``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, probes  # noqa: E402

N_CONVS = 500
N_SHARDS = 1
BATCH_K = 10
BATCH_REPS = 2  # repeated identical batch calls; the traced run reports their median

def parse_args(argv=None):
    p = argparse.ArgumentParser(description="spark-graft repository benchmark")
    p.add_argument("--workload", required=True, choices=("churn", "search"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seconds <= 0:
        p.error("--seconds must be positive")
    return a


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Run:
    """One benchmark run: inputs, session, tracer, and the tally of
    checked operations."""

    def __init__(self, args, work: str, mem):
        self.args = args
        self.work = work
        self.mem = mem
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def check(self, what: str, problems: list[str]) -> None:
        """Count one operation; it fails if its check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {what}: {problems[0]}", file=sys.stderr)

    # --- set-up ---------------------------------------------------------

    def start(self):
        from solr_ocr_processor_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                # keep the JVM's scratch files inside the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.session_s = time.perf_counter() - t0
        self.tracer = probes.Tracer(self.spark, enabled=bool(self.args.trace))
        self.tracer.spans.append(
            {"span_id": 0, "parent": None, "name": "session.start",
             "wall_s": self.session_s, "jobs": 0}
        )

    def build(self, corpus_path: str, root: str):
        from solr_ocr_processor_spark.operators.lifecycle import build_store

        t = self.spark.read.parquet(corpus_path)
        with self.tracer.span("lifecycle.build_store") as s:
            store = build_store(self.spark, t, root, n_shards=N_SHARDS)
        self.build_s = s["wall_s"]
        return store

    def load(self, store):
        from solr_ocr_processor_spark.operators.lifecycle import (
            load_block_index,
            load_index,
        )

        with self.tracer.span("lifecycle.load_block_index"):
            bidx = load_block_index(self.spark, store)
        with self.tracer.span("lifecycle.load_index"):
            idx = load_index(self.spark, store)
        return bidx, idx

    # --- timed calls ----------------------------------------------------

    def query(self, qid: str, kind: str, q: str, k: int, bidx, idx, exclude=None):
        """One query, timed including its final collect. Returns
        (rows, wall seconds)."""
        from solr_ocr_processor_spark.operators.query import (
            conjunctive_topk,
            phrase_topk,
        )
        from solr_ocr_processor_spark.operators.wand import wand_topk

        sp = self.spark
        if kind == "and":
            with self.tracer.span("query.and", request=qid, q=q, k=k) as s:
                rows = conjunctive_topk(sp, idx, q, k=k, exclude_docs=exclude).collect()
            return rows, s["wall_s"]
        if kind == "phrase":
            with self.tracer.span("query.phrase", request=qid, q=q, k=k) as s:
                rows = phrase_topk(
                    sp, idx, q, k=k, exclude_docs=exclude, bidx=bidx
                ).collect()
            return rows, s["wall_s"]
        excl = None if exclude is None else exclude.select("doc_id")
        with self.tracer.span("wand.plan", request=qid, q=q, k=k) as plan:
            df = wand_topk(sp, bidx, q, k=k, exclude_docs=excl)
        with self.tracer.span("wand.collect", request=qid, q=q, k=k) as coll:
            rows = df.collect()
        return rows, plan["wall_s"] + coll["wall_s"]

    def batch(self, queries: dict, idx, exclude=None):
        """``BATCH_REPS`` identical batch calls; returns the first call's
        rows per query and whether every repeat returned the same rows."""
        from solr_ocr_processor_spark.operators.score import bm25_batch_topk

        outs = []
        for _ in range(BATCH_REPS):
            with self.tracer.span("score.batch", n=len(queries)):
                outs.append(bm25_batch_topk(
                    self.spark, idx, queries, k=BATCH_K, exclude_docs=exclude
                ).collect())
        by_q: dict[str, list] = {qid: [] for qid in queries}
        for r in outs[0]:
            by_q[r["query_id"]].append(r)
        return by_q, all(o == outs[0] for o in outs)

    def bm25(self, qid: str, q: str, k: int, idx, exclude=None):
        from solr_ocr_processor_spark.operators.score import bm25_topk

        with self.tracer.span("score.bm25_topk", request=qid, q=q, k=k):
            return bm25_topk(self.spark, idx, q, k=k, exclude_docs=exclude).collect()

    # --- shared pieces --------------------------------------------------

    def build_check(self, store, ref) -> None:
        from pyspark.sql import functions as F

        sp = self.spark
        corpus = sp.read.parquet(store.path("corpus")).first()
        terms = ref.sample_terms(20)
        df_rows = (
            sp.read.parquet(store.path("term_stats"))
            .where(F.col("term").isin(terms)).collect()
        )
        missing = sorted(set(terms) - {r["term"] for r in df_rows})
        self.check(
            "build", ref.build_problems(corpus, df_rows)
            + [f"term_stats lacks {missing[:5]}"] * bool(missing)
        )

    def in_memory_stages(self, corpus_path: str) -> None:
        """Traced run only: the build's in-memory stages one by one."""
        from solr_ocr_processor_spark.operators.blocks import build_block_index
        from solr_ocr_processor_spark.operators.build import build_postings
        from solr_ocr_processor_spark.plans.materialize import (
            assign_doc_ids,
            ordered_turns,
        )

        t = self.spark.read.parquet(corpus_path)
        with self.tracer.span("materialize.assign_doc_ids"):
            ids = assign_doc_ids(ordered_turns(t))
        ids.unpersist()
        with self.tracer.span("build.postings") as s:
            idx = build_postings(t)
            s["rows"] = idx.postings.count()
        with self.tracer.span("blocks.encode") as s:
            s["rows"] = build_block_index(idx).blocks.count()
        idx.postings.unpersist()
        idx.mat.unpersist()

    def finish_e2e(self, setup_s, store_bytes, input_bytes, n_turns, lat, timed_s):
        self.e2e.update(
            setup_s=setup_s,
            build_peak_pss_mb=self.setup_peak / 2**20,
            build_turns_per_s=n_turns / self.build_s,
            store_bytes_per_input_byte=store_bytes / input_bytes,
            query_p50_s=statistics.median(lat),
            timed_s=timed_s,
        )
        self.store_bytes = store_bytes


def run_search(run: Run, paths: dict) -> None:
    import pandas as pd

    from perfbench.checks import ORACLE_TOL, Reference, rank_mismatch, ranked

    queries = pd.read_parquet(paths["queries"])
    corpus = pd.read_parquet(paths["corpus"])
    root = os.path.join(run.work, "store")

    with run.tracer.span("setup", phase=True) as setup:
        store = run.build(paths["corpus"], root)
        bidx, idx = run.load(store)
    run.setup_peak = run.mem.sample()

    results, lat = [], []
    with run.tracer.span("timed", phase=True) as timed:
        for r in queries.itertuples():
            rows, wall = run.query(r.qid, r.kind, r.q, int(r.k), bidx, idx)
            results.append(rows)
            lat.append(wall)
        batch, batch_same = run.batch(dict(zip(queries.qid, queries.q)), idx)

    with run.tracer.span("checks", phase=True):
        ref = Reference(corpus)
        run.build_check(store, ref)
        for r, rows in zip(queries.itertuples(), results):
            got, problems = ranked(rows), []
            if r.kind == "and":
                want = ref.bag_topk(r.q, int(r.k), need_all=True)
            elif r.kind == "phrase":
                want = ref.phrase_topk(r.q, int(r.k))
            else:
                want = ref.bag_topk(r.q, int(r.k))
                problems = rank_mismatch(got, ref.oracle_topk(r.q, int(r.k)),
                                         f"oracle {r.q!r} k={r.k}", ORACLE_TOL)
            run.check(r.qid, problems + rank_mismatch(got, want, f"{r.kind} {r.q!r} k={r.k}"))
        run.check("batch", ["batch repeats differ"] * (not batch_same) + [
            p for r in queries.itertuples()
            for p in rank_mismatch(ranked(batch[r.qid]), ref.bag_topk(r.q, BATCH_K),
                                   f"batch {r.q!r}")
        ])
    run.finish_e2e(run.session_s + setup["wall_s"], dir_bytes(root),
                   os.path.getsize(paths["corpus"]), len(corpus), lat, timed["wall_s"])

    if run.args.trace:
        with run.tracer.span("traced_extras", phase=True):
            run.in_memory_stages(paths["corpus"])
            for r in queries.itertuples():
                if r.kind not in ("and", "phrase"):
                    run.check(f"bm25 {r.qid}", rank_mismatch(
                        ranked(run.bm25(r.qid, r.q, int(r.k), idx)),
                        ranked(results[r.Index]), f"bm25_topk vs wand {r.q!r}"))
            # the write layers, so the traced search run reports them too
            churn_round(run, store, paths)
            compact_store(run, store)


def churn_round(run: Run, store, paths: dict):
    """sync_store to the churn_1 snapshot, then reload the store.
    Returns (bidx, idx, tombstones frame)."""
    from solr_ocr_processor_spark.operators.lifecycle import (
        sync_store,
        tombstoned_convs,
    )

    m = max(1, round(N_CONVS * gen.CHURN_SHARE))
    with run.tracer.span("lifecycle.sync_store"):
        res = sync_store(run.spark, store, run.spark.read.parquet(paths["churn_1"]),
                         compact_after=False)
    want = {"added": m, "changed": m, "removed": m, "unchanged": N_CONVS - 2 * m}
    run.check("sync", [] if res == want else [f"sync_store returned {res}, expected {want}"])
    bidx, idx = run.load(store)
    dead = tombstoned_convs(run.spark, store)
    return bidx, idx, dead


def compact_store(run: Run, store) -> None:
    from solr_ocr_processor_spark.operators.lifecycle import compact

    with run.tracer.span("lifecycle.compact"):
        compact(run.spark, store)


def run_churn(run: Run, paths: dict) -> None:
    import pandas as pd

    from perfbench.checks import (
        ORACLE_TOL,
        Reference,
        rank_mismatch,
        ranked,
        tombstone_leak,
    )

    queries = pd.read_parquet(paths["queries"])
    corpus = pd.read_parquet(paths["corpus"])
    final = pd.read_parquet(paths["churn_1"])
    root = os.path.join(run.work, "store")
    wand_kinds = ~queries["kind"].isin(["and", "phrase"])

    with run.tracer.span("setup", phase=True) as setup:
        store = run.build(paths["corpus"], root)
        run.load(store)
    run.setup_peak = run.mem.sample()

    results, lat, bm25 = [], [], {}
    with run.tracer.span("timed", phase=True) as timed:
        bidx, idx, dead = churn_round(run, store, paths)
        for r in queries.itertuples():
            rows, wall = run.query(r.qid, r.kind, r.q, int(r.k), bidx, idx, exclude=dead)
            results.append(rows)
            lat.append(wall)
        batch, batch_same = run.batch(dict(zip(queries.qid, queries.q)), idx, exclude=dead)
        # the traced run also compares with bm25_topk, which needs the
        # tombstones live: run it here, outside the timed sum
        with run.tracer.span("traced_extras", phase=True) as extras:
            dead_ids = {int(r["doc_id"]) for r in dead.select("doc_id").collect()}
            if run.args.trace:
                bm25 = {r.qid: run.bm25(r.qid, r.q, int(r.k), idx, exclude=dead)
                        for r in queries[wand_kinds].itertuples()}
        compact_store(run, store)
    timed_s = timed["wall_s"] - extras["wall_s"]

    with run.tracer.span("checks", phase=True):
        n_dead = 2 * max(1, round(N_CONVS * gen.CHURN_SHARE))  # removed + changed
        run.check("tombstones", [] if len(dead_ids) == n_dead
                  else [f"{len(dead_ids)} tombstoned docs, expected {n_dead}"])
        for r, rows, is_wand in zip(queries.itertuples(), results, wand_kinds):
            what = f"{r.kind} {r.q!r} (tombstones live)"
            problems = tombstone_leak([x["doc_id"] for x in rows], dead_ids, what)
            if is_wand and int(r.k) <= BATCH_K:  # batch == exhaustive bm25 scorer
                problems += rank_mismatch(ranked(rows), ranked(batch[r.qid][: int(r.k)]),
                                          f"{what} vs batch")
            if r.qid in bm25:
                problems += rank_mismatch(ranked(rows), ranked(bm25[r.qid]),
                                          f"{what} vs bm25_topk")
            run.check(r.qid, problems)
        run.check("batch", ["batch repeats differ"] * (not batch_same) + [
            p for r in queries.itertuples()
            for p in tombstone_leak([x["doc_id"] for x in batch[r.qid]], dead_ids, "batch")
        ])
        # after compact: the store must serve exactly the final corpus
        ref = Reference(final)
        run.build_check(store, ref)
        bidx, idx = run.load(store)
        r = next(queries.itertuples())  # a WAND bag (the mix starts with them)
        rows, _ = run.query(r.qid, r.kind, r.q, int(r.k), bidx, idx)
        what = f"after compact {r.q!r}"
        run.check(f"compacted {r.qid}",
                  rank_mismatch(ranked(rows), ref.oracle_topk(r.q, int(r.k)), what, ORACLE_TOL)
                  + rank_mismatch(ranked(rows), ref.bag_topk(r.q, int(r.k)), what))
    run.finish_e2e(run.session_s + setup["wall_s"], dir_bytes(root),
                   os.path.getsize(paths["churn_1"]), len(corpus), lat, timed_s)

    if run.args.trace:
        with run.tracer.span("traced_extras", phase=True):
            run.in_memory_stages(paths["corpus"])


def layer_metrics(run: Run, shard_wall_s: float) -> dict:
    """Per-layer metrics from the traced run's spans."""
    spans = run.tracer.spans

    def named(name):
        return [s for s in spans if s["name"] == name]

    def one(name, key="wall_s"):
        return float(named(name)[0][key])

    def per_query(name, key):
        v = [s[key] for s in named(name)]
        return statistics.fmean(v)

    plans, colls = named("wand.plan"), named("wand.collect")
    wand = [{k: p[k] + c[k] for k in ("jobs", "stages", "executor_cpu_s", "input_bytes")}
            for p, c in zip(plans, colls)]
    run_s = sum(s.get("executor_run_s", 0.0) for s in spans)
    cpu_s = sum(s.get("executor_cpu_s", 0.0) for s in spans)
    return {
        "session.start_s": run.session_s,
        "materialize.assign_doc_ids_s": one("materialize.assign_doc_ids"),
        "materialize.assign_doc_ids_jobs": one("materialize.assign_doc_ids", "jobs"),
        "build.postings_s": one("build.postings"),
        "build.postings_jobs": one("build.postings", "jobs"),
        "build.executor_cpu_s": one("build.postings", "executor_cpu_s"),
        "build.executor_run_s": one("build.postings", "executor_run_s"),
        "build.postings_rows": one("build.postings", "rows"),
        "blocks.encode_s": one("blocks.encode"),
        "blocks.shuffle_write_bytes": one("blocks.encode", "shuffle_write_bytes"),
        "blocks.n_blocks": one("blocks.encode", "rows"),
        "lifecycle.build_store_s": one("lifecycle.build_store"),
        "lifecycle.build_store_jobs": one("lifecycle.build_store", "jobs"),
        "lifecycle.shard_wall_s": shard_wall_s,
        "lifecycle.load_block_index_s": one("lifecycle.load_block_index"),
        "lifecycle.sync_store_s": one("lifecycle.sync_store"),
        "lifecycle.sync_store_jobs": one("lifecycle.sync_store", "jobs"),
        "lifecycle.compact_s": one("lifecycle.compact"),
        "lifecycle.compact_jobs": one("lifecycle.compact", "jobs"),
        "lifecycle.store_bytes": run.store_bytes,
        "wand.plan_s": statistics.median(s["wall_s"] for s in plans),
        "wand.collect_s": statistics.median(s["wall_s"] for s in colls),
        "wand.jobs_per_query": statistics.fmean(w["jobs"] for w in wand),
        "wand.stages_per_query": statistics.fmean(w["stages"] for w in wand),
        "wand.executor_cpu_s": statistics.fmean(w["executor_cpu_s"] for w in wand),
        "wand.input_bytes": statistics.fmean(w["input_bytes"] for w in wand),
        "score.batch_s": statistics.median(s["wall_s"] for s in named("score.batch")),
        "score.batch_jobs": one("score.batch", "jobs"),
        "score.bm25_topk_p50_s": statistics.median(s["wall_s"] for s in named("score.bm25_topk")),
        "score.bm25_topk_jobs_per_query": per_query("score.bm25_topk", "jobs"),
        "query.and_jobs_per_query": per_query("query.and", "jobs"),
        "query.phrase_jobs_per_query": per_query("query.phrase", "jobs"),
        "spark.cpu_over_run": cpu_s / run_s,
        "trace.query_p50_s": run.e2e["query_p50_s"],
        "trace.timed_s": run.e2e["timed_s"],
    }


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    forked to exit; kill whatever is still running after a grace time."""
    started = probes.children(os.getpid())
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    for pid in probes.wait_gone(started, timeout=20):
        os.kill(pid, signal.SIGKILL)
    probes.wait_gone(started, timeout=10)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still unwinds: stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "solr_ocr_processor_spark")):
        print(f"perfbench: no solr_ocr_processor_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # only SPARK_GRAFT_CPUS tunes the program; the rest keeps scratch
    # files inside the checkout and lets Python workers import the package
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    paths = gen.generate(args.seed, N_CONVS, os.path.join(work, "inputs"),
                         gen.MIXES[args.workload],
                         churn_rounds=1 if args.workload == "churn" or args.trace else 0)
    mem = probes.MemSampler(os.getpid()).start()
    run = Run(args, work, mem)
    try:
        run.start()
        if args.workload == "search":
            run_search(run, paths)
        else:
            run_churn(run, paths)
        if args.trace:
            shard_wall = sum(
                r["wall_sec"] for r in run.spark.read.parquet(
                    os.path.join(work, "store", "manifest")).collect())
            run.layer = layer_metrics(run, shard_wall)
            trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.write(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        peak = mem.stop()
        shutil.rmtree(work, ignore_errors=True)
    run.e2e["run_peak_pss_mb"] = peak / 2**20
    if args.trace:
        run.layer["mem.run_peak_pss_mb"] = run.e2e["run_peak_pss_mb"]

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = run.layer if args.trace else run.e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}
    error_rate = run.failed / run.attempted
    for k, m in metrics.items():
        print(f"{args.workload:7s} {k:34s} {m['value']:14.4f} {m['unit']}")
    print(f"{args.workload:7s} {'error_rate':34s} {error_rate:14.4f} ratio")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
