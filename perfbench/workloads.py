"""The benchmark workloads: closed loop, one client thread.

Each workload has a ``setup`` and a ``run_pass``, a fixed sequence of
client operations that the run repeats until its time is up.  Every
operation is timed end to end (construct + plan + execute + collect) and
checked against the generator's ground truth; a wrong or failed operation
counts toward ``failed``.
"""

from __future__ import annotations

import contextlib
import gc
import os
import sys
import time
import traceback

import numpy as np

from gen import Sizes, generate
from reference import (BM25Reference, distinct_texts, planted_pairs,
                       recall_at_k, topk_ok)
from tracing import gc_seconds

TERM_BUCKETS = 16
JACCARD = 0.9
COSINE = 0.95
SEMDEDUP_K_DIV = 250
# Live-heap readings: Spark's cleaner thread polls for unreachable objects
# every 100 ms; a settled heap reads the same to within 0.1 MB while a
# pending clean-up frees megabytes per round.
CLEANER_WAIT_S = 0.3
CLEANER_ROUNDS = 8
HEAP_SETTLED_BYTES = 2**18


class Op:
    """One client operation: counted as attempted, failed if it raises or
    a check on its result fails, timed into the pass while measuring."""

    def __init__(self, ctx, kind: str):
        self.ctx, self.kind, self.failed = ctx, kind, False

    def __enter__(self):
        self.ctx.attempted += 1
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, exc_type, exc, tb):
        self.latency = time.perf_counter() - self.t0
        if exc_type is not None:
            if not issubclass(exc_type, Exception):
                return False
            traceback.print_exception(exc_type, exc, tb, file=sys.stderr)
            self.fail(f"raised {exc_type.__name__}")
            return True
        if self.ctx.measuring:
            self.ctx.latencies.setdefault(self.kind, []).append(self.latency)
            self.ctx.pass_time += self.latency
        return False

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(what)

    def fail(self, what: str) -> None:
        if not self.failed:
            self.failed = True
            self.ctx.failed += 1
            print(f"FAILED {self.kind}: {what}", file=sys.stderr)


class Data:
    """One generated data set with its reference and stream cursors."""

    def __init__(self, inputs):
        self.inputs = inputs
        self.dir = inputs.data_dir
        self.ref = BM25Reference(inputs)
        self._query = self._batch = 0

    def next_query(self) -> str:
        q = self.inputs.queries[self._query % len(self.inputs.queries)]
        self._query += 1
        return q

    def next_batch(self) -> dict[str, str]:
        b = self.inputs.batches[self._batch % len(self.inputs.batches)]
        self._batch += 1
        return b


class Context:
    """State shared by a run: session, tracer and counters."""

    def __init__(self, spark, tracer, work_dir: str):
        self.spark, self.tracer, self.work_dir = spark, tracer, work_dir
        self.attempted = self.failed = 0
        self.measuring = False
        self.latencies: dict[str, list[float]] = {}
        self.pass_time = 0.0
        self.live_heap_mb: list[float] = []
        self.forced_gc_s = 0.0
        self.report: dict[str, float] = {}
        self.recall: list[float] = []

    def sample_live_heap(self) -> None:
        """Record the heap the driver keeps live after a pass: bytes in
        use once full collections stop freeing any.  Spark's cleaner
        thread drops broadcasts, shuffles and unpersisted blocks only
        after a collection finds their owners unreachable, and freeing
        those can free more, so the benchmark collects and waits until two
        readings agree.  Python collects first: a JVM object stays live
        while a Python proxy in a reference cycle holds it.  The forced
        collections' time is kept apart from the program's own."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        gc_before = gc_seconds(jvm)
        used = float("inf")
        for _ in range(CLEANER_ROUNDS):
            jvm.java.lang.System.gc()
            last, used = used, heap.getHeapMemoryUsage().getUsed()
            if last - used < HEAP_SETTLED_BYTES:
                break
            time.sleep(CLEANER_WAIT_S)
        self.forced_gc_s += gc_seconds(jvm) - gc_before
        self.live_heap_mb.append(used / 2**20)

    def op(self, kind: str) -> Op:
        return Op(self, kind)

    def call(self, layer, construct, execute=None):
        return self.tracer.call(layer, construct, execute)

    def load(self, data: Data, name: str):
        from big_data_assignment_2_spark.sources.io import load_table
        return self.call("sources.io.load_table",
                         lambda: load_table(self.spark, data.dir, name))

    def score(self, recall: float) -> None:
        if self.measuring:
            self.recall.append(recall)

    # -- store operations ---------------------------------------------------
    def build_store(self, data: Data, store: str) -> None:
        from big_data_assignment_2_spark.operators.index import build_index
        from big_data_assignment_2_spark.operators.persist import write_index
        with self.op("build") as op:
            docs = self.load(data, "documents")
            index = self.call("operators.index.build_index",
                              lambda: build_index(docs,
                                                  term_buckets=TERM_BUCKETS))
            self.call("operators.persist.write_index",
                      lambda: write_index(index, store, TERM_BUCKETS))
        if op.failed:
            return
        files = parquet_files(f"{store}/term_document")
        per_bucket: dict[str, int] = {}
        for path in files:
            bucket = os.path.basename(os.path.dirname(path))
            per_bucket[bucket] = per_bucket.get(bucket, 0) + 1
        op.check(len(per_bucket) == TERM_BUCKETS,
                 f"{len(per_bucket)} bucket directories, not {TERM_BUCKETS}")
        store_bytes = dir_bytes(store)
        rec = self.tracer.record
        rec("operators.persist.files_written", len(files))
        rec("operators.persist.files_per_bucket_max",
            max(per_bucket.values(), default=0))
        rec("operators.persist.bytes_written", store_bytes)
        self.report["index_bytes_per_input_byte"] = store_bytes / \
            os.path.getsize(f"{data.dir}/documents.parquet")

    def probe(self, data: Data, store: str, kind: str = "probe",
              query: str | None = None) -> None:
        from big_data_assignment_2_spark.operators.persist import (
            bm25_probe_persisted)
        q = data.next_query() if query is None else query
        with self.op(kind) as op:
            rows = self.call("operators.persist.bm25_probe_persisted",
                             lambda: bm25_probe_persisted(self.spark, store, q),
                             collect)
        if op.failed:
            self.score(0.0)
            return
        got = [(r["doc_id"], r["score"]) for r in rows]
        ref = data.ref.scores(q)
        op.check(topk_ok(got, ref),
                 f"top-10 differs from numpy BM25 for {q!r}")
        self.score(recall_at_k(got, ref))
        read = self.tracer.values.get(
            "operators.persist.bm25_probe_persisted.rows_read")
        if read and rows:
            self.tracer.record("operators.persist.bm25_probe_persisted"
                               ".rows_read_per_result", read[-1] / len(rows))

    def batch(self, data: Data, store: str) -> None:
        from big_data_assignment_2_spark.operators.persist import (
            bm25_probe_persisted_batch)
        queries = data.next_batch()
        with self.op("batch") as op:
            rows = self.call(
                "operators.persist.bm25_probe_persisted_batch",
                lambda: bm25_probe_persisted_batch(self.spark, store, queries),
                collect)
        if op.failed:
            for _ in queries:
                self.score(0.0)
            return
        by_q: dict[str, list] = {qid: [] for qid in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q[r["query_id"]].append((r["doc_id"], r["score"]))
        ok = True
        for qid, q in queries.items():
            ref = data.ref.scores(q)
            ok = topk_ok(by_q[qid], ref) and ok
            self.score(recall_at_k(by_q[qid], ref))
        op.check(ok, "a batch top-10 differs from numpy BM25")


@contextlib.contextmanager
def warmup(ctx: Context):
    """Operations that only warm caches and compiled code: checked, but
    neither timed nor traced."""
    traced, ctx.tracer.enabled = ctx.tracer.enabled, False
    measuring, ctx.measuring = ctx.measuring, False
    try:
        yield
    finally:
        ctx.tracer.enabled, ctx.measuring = traced, measuring


def collect(df):
    return df.collect()


def parquet_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")]


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)


def pctl(vals: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(vals)
    return s[max(0, int(np.ceil(q / 100 * len(s))) - 1)]


class IndexLifecycle:
    """The reference's indexing pipeline and query, plus maintenance beside
    reads, on a fresh store each pass: build + persist; top-10 probes and
    16-query batches that share terms; the seeded append / delete / probe
    stream; compaction; a probe of the compacted store.

    The build and the maintenance operations run cold, as a batch job
    submitted as its own application does on every run.  The serving
    operations are measured warm, after one untimed probe."""

    name = "index_lifecycle"
    sizes = Sizes(docs=4000, vectors=200, vec_dup_groups=10, exact_dups=40,
                  near_dups=80, churn_rounds=2, append_docs=150,
                  delete_docs=40, churn_probes=1)
    serve_probes = 8
    serve_batches = 2

    def setup(self, ctx: Context, seed: int) -> None:
        self._passes = 0
        self.data = Data(generate(seed, f"{ctx.work_dir}/data", self.sizes))

    def run_pass(self, ctx: Context) -> None:
        from big_data_assignment_2_spark.operators.persist import (
            append_to_index, compact_index, delete_from_index)
        data = self.data
        self._passes += 1
        store = f"{ctx.work_dir}/life{self._passes}"
        data.ref.live[:] = False
        data.ref.live[:data.inputs.n_base] = True
        ctx.build_store(data, store)
        with warmup(ctx):
            ctx.probe(data, store)
        for _ in range(self.serve_probes):
            ctx.probe(data, store)
        for _ in range(self.serve_batches):
            ctx.batch(data, store)
        doc_ids = data.inputs.doc_ids
        for step in data.inputs.churn:
            if step["op"] == "append":
                files = len(parquet_files(store))
                with ctx.op("append"):
                    batch = ctx.load(data, step["table"])
                    ctx.call("operators.persist.append_to_index",
                             lambda: append_to_index(batch, store))
                ctx.tracer.record(
                    "operators.persist.append_to_index.files_written",
                    len(parquet_files(store)) - files)
                data.ref.set_live(step["docs"], True)
            elif step["op"] == "delete":
                ids = [int(doc_ids[i]) for i in step["docs"]]
                with ctx.op("delete"):
                    ctx.call("operators.persist.delete_from_index",
                             lambda: delete_from_index(ctx.spark, store, ids))
                data.ref.set_live(step["docs"], False)
            else:
                ctx.probe(data, store, "lifecycle_probe", step["query"])
        with ctx.op("compact") as op:
            ctx.call("operators.persist.compact_index",
                     lambda: compact_index(ctx.spark, store))
        if not op.failed:
            ctx.tracer.record(
                "operators.persist.compact_index.bytes_rewritten",
                dir_bytes(store))
            op.check(not os.path.exists(f"{store}/tombstones"),
                     "tombstone log survived compaction")
        # The numpy reference now scores the surviving documents only: a
        # fresh build over them.
        ctx.probe(data, store, "compacted_probe")

    def summarize(self, ctx: Context) -> None:
        lat = ctx.latencies.get("probe", [])
        if lat:
            ctx.report["probe_p50_ms"] = pctl(lat, 50) * 1e3
            ctx.report["probe_p90_ms"] = pctl(lat, 90) * 1e3
        lat = ctx.latencies.get("batch", [])
        if lat:
            ctx.report["batch_qps"] = \
                len(lat) * self.sizes.batch_size / sum(lat)
        for kind, name in (("append", "append_p50_ms"),
                           ("delete", "delete_p50_ms"),
                           ("lifecycle_probe", "lifecycle_probe_p50_ms")):
            if ctx.latencies.get(kind):
                ctx.report[name] = pctl(ctx.latencies[kind], 50) * 1e3
        for kind, name in (("compact", "compact_s"), ("build", "build_s")):
            if ctx.latencies.get(kind):
                ctx.report[name] = pctl(ctx.latencies[kind], 50)


class DedupCurate:
    """The LLM-data extension's costliest layers as one batch pass: exact
    dedup, MinHash clusters, PPJoin pairs, SemDeDup and banded-LSH cosine
    pairs.  Measured cold, like ``index_lifecycle``: a curation pass is a
    batch job of its own."""

    name = "dedup_curate"
    sizes = Sizes(docs=3000, vectors=1500, vec_dup_groups=40, exact_dups=50,
                  near_dups=100, churn_rounds=0)
    stages = ("dedup_exact", "near_dup_clusters", "prefix_jaccard_pairs",
              "semdedup", "cosine_near_dups_scaled")

    def setup(self, ctx: Context, seed: int) -> None:
        self.data = Data(generate(seed, f"{ctx.work_dir}/data", self.sizes))

    def run_pass(self, ctx: Context) -> None:
        from big_data_assignment_2_spark.operators import dedup, similarity
        from big_data_assignment_2_spark.operators.dedup import content_key
        data = self.data
        inputs = data.inputs
        k = max(2, len(inputs.vectors) // SEMDEDUP_K_DIV)
        truth = set(planted_pairs(inputs, JACCARD))
        with ctx.op("dedup_exact") as op:
            docs = ctx.load(data, "documents")
            rows = ctx.call("operators.dedup.dedup_exact",
                            lambda: dedup.dedup_exact(docs,
                                                      content_key("text")),
                            collect)
        if not op.failed:
            groups = distinct_texts(inputs)
            op.check(len(rows) == groups,
                     f"{len(rows)} exact groups, expected {groups}")
        with ctx.op("near_dup_clusters") as op:
            rows = ctx.call("operators.dedup.near_dup_clusters",
                            lambda: dedup.near_dup_clusters(docs, JACCARD),
                            collect)
        if not op.failed:
            cluster = {r["doc_id"]: r["cluster_rep"] for r in rows}
            op.check(len(cluster) == len(rows) == inputs.n_base,
                     "clusters do not cover every document once")
            hit = sum(cluster.get(a) is not None
                      and cluster.get(a) == cluster.get(b) for a, b in truth)
            ctx.score(hit / len(truth))
        with ctx.op("prefix_jaccard_pairs") as op:
            rows = ctx.call("operators.dedup.prefix_jaccard_pairs",
                            lambda: dedup.prefix_jaccard_pairs(docs, JACCARD),
                            collect)
        if not op.failed:
            found = {tuple(sorted((r["doc_a"], r["doc_b"]), key=int))
                     for r in rows}
            missing = [p for p in truth if p not in found]
            op.check(not missing, f"{len(missing)} planted pairs missing")
            if ctx.tracer.enabled:
                ordered = dedup.df_ordered_token_arrays(docs)
                cands = dedup.ppjoin_candidates(ordered, JACCARD).count()
                ordered.unpersist()
                ctx.tracer.record(
                    "operators.dedup.prefix_jaccard_pairs.candidates_per_pair",
                    cands / max(1, len(found)))
        n_vec = len(inputs.vectors)
        with ctx.op("semdedup") as op:
            vectors = ctx.load(data, "embeddings")
            rows = ctx.call("operators.similarity.semdedup",
                            lambda: similarity.semdedup(
                                vectors, k=k, iters=2, threshold=COSINE),
                            collect)
        if not op.failed:
            ids = {r["vec_id"] for r in rows}
            op.check(len(ids) == len(rows) == n_vec,
                     "semdedup does not flag every vector once")
        with ctx.op("cosine_near_dups_scaled") as op:
            rows = ctx.call("operators.similarity.cosine_near_dups_scaled",
                            lambda: similarity.cosine_near_dups_scaled(
                                vectors, COSINE),
                            collect)
        if not op.failed:
            v = inputs.vectors.astype(np.float64)
            u = v / np.linalg.norm(v, axis=1, keepdims=True)
            bad = [r for r in rows if float(
                u[r["vec_a"] - 1] @ u[r["vec_b"] - 1]) < COSINE - 1e-6]
            op.check(not bad, f"{len(bad)} pairs below the cosine threshold")

    def summarize(self, ctx: Context) -> None:
        per_pass = zip(*(ctx.latencies.get(k, []) for k in self.stages))
        curate = [sum(p) for p in per_pass]
        if curate:
            ctx.report["curate_s"] = pctl(curate, 50)
        if ctx.recall:
            ctx.report["near_dup_recall"] = float(np.mean(ctx.recall))


WORKLOADS = {w.name: w for w in (IndexLifecycle, DedupCurate)}
