"""The benchmark's workloads. Each drives the engine only through its
public functions and checks the engine's outputs against numpy or the
generator's ground truth.

A workload has four steps, run by ``run.py``:

- ``setup``: everything after session start that a user pays before the
  first answer (cache fill, layout build, warm-up);
- ``window``: the measured load for ``--seconds`` seconds; returns one
  latency per operation;
- ``check``: output checks on what the window produced, plus the
  workload's named end-to-end and per-layer metrics;
- ``teardown``: stop anything ``setup`` started.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
    nearest_centroids,
    train_centroids,
    write_ivf_index,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.decontam import (
    bloom_decontaminate,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.dedup import (
    minhash_lsh_pairs,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.graph import (
    dedup_components,
)
from the_build_project_image_retrieval_with_vector_databases_spark.operators.textops import (
    quality_score,
)
from the_build_project_image_retrieval_with_vector_databases_spark.plans.index_build import (
    build_index,
    write_metadata_json,
    write_vector_map,
)
from the_build_project_image_retrieval_with_vector_databases_spark.search import search
from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
    serve_loop_rate,
)

K = 10  # neighbours per query, every kNN workload


def median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


def pct(xs, q):
    return float(np.percentile(xs, q)) if len(xs) else 0.0


class Vectors:
    """A parquet vector table in numpy, addressable by id, for exact
    reference answers."""

    def __init__(self, path: str, col: str = "embedding", id_col: str = "vec_id"):
        t = pq.read_table(path, columns=[id_col, col])
        self.ids = t.column(id_col).to_numpy()
        flat = t.column(col).combine_chunks().flatten().to_numpy()
        self.x = flat.reshape(len(self.ids), -1).astype(np.float64)
        self.pos = {int(i): p for p, i in enumerate(self.ids)}

    def dists(self, q: np.ndarray) -> np.ndarray:
        return np.sqrt(((self.x - q) ** 2).sum(axis=1))

    def topk_ok(self, q: np.ndarray, got: list[tuple[int, float]], k: int = K) -> bool:
        """Tie-aware check of a top-k answer against exact numpy L2, at
        the engine's 6-decimal tie granularity: k distinct rows, each
        within the k-th exact distance, every strictly closer row
        present, and each reported distance equal to numpy's."""
        d = self.dists(q)
        r = np.round(d, 6)
        kth = np.partition(r, k - 1)[k - 1]
        pos = [self.pos.get(i) for i, _ in got]
        if len(got) != k or None in pos or len(set(pos)) != k:
            return False
        if any(r[p] > kth for p in pos):
            return False
        if not set(np.flatnonzero(r < kth).tolist()) <= set(pos):
            return False
        return all(abs(dist - d[p]) < 1e-6 for p, (_, dist) in zip(pos, got))

    def recall(self, q: np.ndarray, got_ids, k: int = K) -> float:
        """Share of the exact top-k (ties at 6 decimals count as top-k)
        that an approximate answer returned."""
        r = np.round(self.dists(q), 6)
        kth = np.partition(r, k - 1)[k - 1]
        return min(1.0, sum(1 for i in got_ids if r[self.pos[i]] <= kth) / k)


def warm_page_cache(*paths: str) -> None:
    """Read input files once so parquet scans hit the OS page cache."""
    for p in paths:
        with open(p, "rb") as f:
            while f.read(1 << 20):
                pass


def tree_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a Spark output directory."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class Workload:
    name = ""

    def __init__(self, run):
        self.run = run

    def span(self, name, **kw):
        return self.run.tracer.span(name, **kw)

    def out_dir(self, name: str) -> str:
        d = os.path.join(self.run.work, "out", self.name, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def closed_loop(self, seconds: float, op) -> list[float]:
        """One client: send the next operation when the last returns.
        Always at least one operation."""
        lat, i = [], 0
        end = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            with self.span("op", request=i):
                op(i)
            lat.append(time.perf_counter() - t0)
            i += 1
            if time.perf_counter() >= end:
                return lat

    def after_window(self) -> None:
        """Work after the measured window that feeds ungated named metrics."""

    def teardown(self):
        pass


# ---------------------------------------------------------------------------
# knn_serve: interactive single-query search, flat and IVF tiers
# ---------------------------------------------------------------------------


class KnnServe(Workload):
    """Closed loop, one client: the reference's precompute -> app flow.

    Set-up builds the served index from raw labelled vectors with the
    batch path (``build_index`` + both sidecars), caches it, and lays it
    out for IVF (``train_centroids`` + ``write_ivf_index``). Each request
    then sends one seeded query vector through ``search()`` twice,
    ``index="flat"`` over the cached index and ``index="ivf"`` (nprobe 4)
    over the centroid-partitioned parquet layout, and collects both
    top-10 answers."""

    name = "knn_serve"
    N_RAW, LABELS, PER_CLASS, N_QUERIES = 8_000, 100, 60, 256
    IVF_K, NPROBE, KMEANS_ITERS = 16, 4, 5
    # Latency keeps falling for the first ~25 requests of a fresh JVM
    # while the JIT compiles the search path; warm up past most of it.
    WARMUP_REQUESTS, SERVE_SECONDS = 24, 3

    def inputs(self, cache: str, seed: int) -> None:
        self.dir = gen.ensure(
            cache, "labelled", seed, n=self.N_RAW, labels=self.LABELS, n_queries=self.N_QUERIES
        )
        self.raw = os.path.join(self.dir, "raw.parquet")
        self.queries = np.load(os.path.join(self.dir, "queries.npy"))

    def setup(self, spark) -> None:
        self.results = []
        warm_page_cache(self.raw)
        index, meta, vmap, layout = (
            self.out_dir(n) for n in ("index", "meta", "vmap", "layout")
        )
        with self.span("index_build.build_index"):
            build_index(
                spark.read.parquet(self.raw), index, per_class=self.PER_CLASS, seed=self.run.seed
            )
        with self.span("index_build.sidecars"):
            built = spark.read.parquet(index)
            write_metadata_json(built, meta)
            write_vector_map(built, vmap)
        self.index_paths = (index, meta, vmap)
        with self.span("load.cache_fill"):
            self.corpus = built.cache()
            self.corpus.count()
        with self.span("ann.train_centroids"):
            self.cents = train_centroids(
                self.corpus, k=self.IVF_K, seed=self.run.seed, max_iter=self.KMEANS_ITERS
            )
        with self.span("ann.write_ivf_index"):
            write_ivf_index(self.corpus, layout, self.cents)
        self.layout_path, self.layout = layout, spark.read.parquet(layout)
        with self.span("warmup"):
            for q in self.queries[-self.WARMUP_REQUESTS:]:
                self.request(q)

    def search(self, tier: str, df, q: np.ndarray):
        kw = {} if tier == "flat" else {"train_vectors": self.cents, "nprobe": self.NPROBE}
        with self.span(f"search.{tier}"):
            with self.span("search.plan"):
                plan = search(df, q.tolist(), K, index=tier, **kw)
            with self.span("search.exec"):
                rows = plan.collect()
        return [(int(r["vec_id"]), float(r["dist"])) for r in rows]

    def request(self, q: np.ndarray):
        return self.search("flat", self.corpus, q), self.search("ivf", self.layout, q)

    def window(self, seconds: float) -> list[float]:
        def op(i):
            qi = i % len(self.queries)
            self.results.append((qi, *self.request(self.queries[qi])))

        return self.closed_loop(seconds, op)

    def after_window(self) -> None:
        self.serve = ServePhase(self)
        self.serve.run(self.run.spark, self.corpus, self.SERVE_SECONDS)

    def teardown(self):
        serve = getattr(self, "serve", None)
        if serve is not None:
            serve.stop()

    def check_index(self) -> bool:
        """The built index: unique ``vec_id``s, PER_CLASS rows per label,
        and each sidecar one row per indexed vector."""
        index, meta, vmap = self.index_paths
        t = pq.read_table(index, columns=["vec_id", "label"])
        ids = t.column("vec_id").to_numpy()
        per_label = np.bincount(t.column("label").to_numpy(), minlength=self.LABELS)
        n = self.LABELS * self.PER_CLASS
        spark = self.run.spark
        return (
            len(ids) == n and len(np.unique(ids)) == n
            and bool((per_label == self.PER_CLASS).all())
            and spark.read.json(meta).count() == n
            and spark.read.parquet(vmap).count() == n
        )

    def check_layout(self, n: int) -> bool:
        """Every indexed row lies in exactly one centroid partition."""
        ids = []
        for d in os.listdir(self.layout_path):
            if d.startswith("centroid="):
                if not 0 <= int(d.split("=", 1)[1]) < self.IVF_K:
                    return False
                part = pq.read_table(os.path.join(self.layout_path, d), columns=["vec_id"])
                ids.extend(part.column("vec_id").to_pylist())
        return len(ids) == n and len(set(ids)) == n

    def check(self) -> dict:
        vec = Vectors(self.index_paths[0])
        failed, recalls = 0, []
        for qi, flat, ivf in self.results:
            q = self.queries[qi]
            d = vec.dists(q)
            ivf_ok = len(ivf) == K and all(
                i in vec.pos and abs(dist - d[vec.pos[i]]) < 1e-6 for i, dist in ivf
            )
            if not (vec.topk_ok(q, flat) and ivf_ok):
                failed += 1
            recalls.append(vec.recall(q, [i for i, _ in ivf if i in vec.pos]))
        build_ok = self.check_index() and self.check_layout(len(vec.ids))
        serve_ok = self.serve.check(vec)
        serve_named, serve_layer = self.serve.metrics()
        probe_ms = []
        for q in self.queries:
            t0 = time.perf_counter()
            nearest_centroids(self.cents, q.tolist(), self.NPROBE)
            probe_ms.append((time.perf_counter() - t0) * 1e3)
        dur = self.run.window_durations
        flat_ms = [d * 1e3 for d in dur("search.flat")]
        ivf_ms = [d * 1e3 for d in dur("search.ivf")]
        bytes_ = files = 0
        for p in self.index_paths:
            b, f = tree_stats(p)
            bytes_, files = bytes_ + b, files + f
        tr = self.run.tracer
        return {
            "attempted": len(self.results) + 2,
            "failed": failed + (not build_ok) + (not serve_ok),
            "checks": {"answers_wrong": failed, "index_and_layout": build_ok, "serve": serve_ok},
            "named": {
                "flat_p50_ms": (median(flat_ms), "ms", len(flat_ms)),
                "ivf_p50_ms": (median(ivf_ms), "ms", len(ivf_ms)),
                "knn_p90_ms": (pct(flat_ms + ivf_ms, 90), "ms", len(flat_ms) + len(ivf_ms)),
                "ivf_recall_at_10": (float(np.mean(recalls)), "ratio", len(recalls)),
                "build_s": (
                    sum(tr.durations("index_build.build_index") + tr.durations("index_build.sidecars")),
                    "s", 1,
                ),
                "index_bytes_per_vector": (
                    tree_stats(self.index_paths[0])[0] / len(vec.ids), "bytes", len(vec.ids)
                ),
                **serve_named,
            },
            "layer": {
                "search.flat_ms": median(flat_ms),
                "search.ivf_ms": median(ivf_ms),
                "ann.nearest_centroids_ms": median(probe_ms),
                "index_build.build_index_s": median(tr.durations("index_build.build_index")),
                "index_build.sidecars_s": median(tr.durations("index_build.sidecars")),
                "index_build.output_bytes": bytes_,
                "index_build.files": files,
                **serve_layer,
            },
        }


# ---------------------------------------------------------------------------
# open-loop serving through the rate-source serve loop
# ---------------------------------------------------------------------------


class ServePhase:
    """Open loop. ``serve_loop_rate``'s ``rate`` source emits query
    arrivals on a wall-clock schedule; each micro-batch scores its
    arrivals against the cached corpus with the Arrow kNN kernel and the
    sink collects the answers to the driver. Latency per epoch runs from
    the oldest arrival's due time to answers collected, so a stall shows
    as queueing. RATE * TRIGGER_MS stays well under POOL, so every
    arrival is scored."""

    RATE, TRIGGER_MS, POOL, WARM_EPOCHS = 20, 1000, 256, 1

    def __init__(self, workload: Workload):
        self.wl = workload
        self.query = None

    def run(self, spark, corpus, seconds: float) -> None:
        self.latencies: list[float] = []
        self.last_batch = None

        def sink(out, epoch_id):
            self.last_batch = (epoch_id, out.collect())

        with self.wl.span("streaming.start"):
            self.query = serve_loop_rate(
                spark, corpus, k=K, rows_per_second=self.RATE,
                latencies=self.latencies, sink=sink, trigger_ms=self.TRIGGER_MS,
                payload_pool=self.POOL,
            )
        try:
            with self.wl.span("streaming.warmup"):
                deadline = time.time() + 60
                while len(self.latencies) < self.WARM_EPOCHS:
                    if self.query.exception() is not None or time.time() > deadline:
                        break
                    time.sleep(0.02)
            n0, t_window = len(self.latencies), time.time()
            with self.wl.span("streaming.window"):
                time.sleep(seconds)
            self.window = self.latencies[n0:]
            self.error = self.query.exception()
            self.progress = [
                p for p in self.query.recentProgress
                if datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                >= t_window
            ]
        finally:
            self.stop()

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def check(self, vec: Vectors) -> bool:
        """Re-score the last collected micro-batch against numpy."""
        if self.error is not None or self.last_batch is None or not self.window:
            return False
        by_q: dict[int, list] = {}
        for r in self.last_batch[1]:
            by_q.setdefault(int(r["query_id"]), []).append((int(r["vec_id"]), float(r["dist"])))
        return bool(by_q) and all(
            qid in vec.pos and vec.topk_ok(vec.x[vec.pos[qid]], got) for qid, got in by_q.items()
        )

    def metrics(self) -> tuple[dict, dict]:
        """(named end-to-end metrics, per-layer metrics)."""
        lat_ms = [v * 1e3 for v in self.window]
        dur = lambda key: [p["durationMs"].get(key, 0) for p in self.progress]
        rows_in = [p["numInputRows"] for p in self.progress if p["numInputRows"] > 0]
        named = {
            "serve_p50_ms": (median(lat_ms), "ms", len(lat_ms)),
            "serve_p90_ms": (pct(lat_ms, 90), "ms", len(lat_ms)),
        }
        layer = {
            "streaming.add_batch_ms": median(dur("addBatch")),
            "streaming.trigger_ms": median(dur("triggerExecution")),
            "streaming.planning_ms": median(dur("queryPlanning")),
            "streaming.get_batch_ms": median(dur("getBatch")),
            "streaming.wal_commit_ms": median(dur("walCommit")),
            "streaming.queries_per_epoch": median(rows_in),
            "streaming.input_rate": median([p["inputRowsPerSecond"] for p in self.progress]),
            "streaming.processed_rate": median([p["processedRowsPerSecond"] for p in self.progress]),
        }
        return named, layer


# ---------------------------------------------------------------------------
# dedup_pipeline: quality filter -> near-dup pairs -> components ->
# keep one per component -> Bloom decontamination -> parquet write
# ---------------------------------------------------------------------------


class DedupPipeline(Workload):
    """Closed loop of whole pipeline runs over parquet input (not cached;
    the OS page cache is warm). Set-up warms the JVM with one pipeline
    run over half the documents: in a fresh JVM the first runs are
    15-20 % slower while the JIT compiles."""

    name = "dedup_pipeline"
    N_DOCS, QUALITY_MIN, BLOOM_BITS = 6_000, 0.7, 1 << 20

    def inputs(self, cache: str, seed: int) -> None:
        n = self.N_DOCS
        self.dir = gen.ensure(
            cache, "documents", seed, n_docs=n, n_clusters=n // 20,
            n_exact=n // 100, n_junk=n // 50, n_contaminated=120,
        )
        with open(os.path.join(self.dir, "truth.json")) as f:
            self.truth = json.load(f)

    def setup(self, spark) -> None:
        self.last = None
        docs_path = os.path.join(self.dir, "docs.parquet")
        warm_page_cache(docs_path, os.path.join(self.dir, "eval.parquet"))
        self.docs = spark.read.parquet(docs_path)
        self.evals = spark.read.parquet(os.path.join(self.dir, "eval.parquet"))
        with self.span("warmup"):
            self.pipeline(self.docs.filter(F.col("doc_id") % 2 == 0))
            self.release()

    def release(self) -> None:
        if self.last is not None:
            self.last["kept_q"].unpersist()
            self.last["pairs"].unpersist()
            self.last = None

    def pipeline(self, docs) -> None:
        spark = docs.sparkSession
        with self.span("textops.filter"):
            good = quality_score(docs).filter(F.col("quality") >= self.QUALITY_MIN)
            kept_q = docs.join(good.select("doc_id"), "doc_id").persist()
            kept_q.count()
        with self.span("dedup.minhash_pairs"):
            pairs = minhash_lsh_pairs(kept_q).persist()
            n_pairs = pairs.count()
        with self.span("graph.dedup_components"):
            comps = dedup_components(pairs).collect()
            nodes = pairs.select(F.col("left_id").alias("doc_id")).union(
                pairs.select(F.col("right_id").alias("doc_id"))
            )
            reps = spark.createDataFrame([(int(c["component"]),) for c in comps], "doc_id long")
            drop = nodes.join(reps, "doc_id", "left_anti")
            kept = kept_q.join(drop, "doc_id", "left_anti")
        with self.span("decontam.bloom"):
            flagged = bloom_decontaminate(kept, self.evals, m_bits=self.BLOOM_BITS)
            flagged_ids = [int(r["doc_id"]) for r in flagged.select("doc_id").collect()]
        out = self.out_dir("clean")
        with self.span("io.write"):
            flagged_df = spark.createDataFrame([(i,) for i in flagged_ids], "doc_id long")
            kept.join(flagged_df, "doc_id", "left_anti").write.mode("overwrite").parquet(out)
        self.last = {
            "kept_q": kept_q, "pairs": pairs,
            "n_pairs": n_pairs, "comps": comps, "flagged": set(flagged_ids), "out": out,
        }

    def window(self, seconds: float) -> list[float]:
        def op(_):
            self.release()
            self.pipeline(self.docs)

        return self.closed_loop(seconds, op)

    def teardown(self):
        self.release()

    def check(self) -> dict:
        t, last = self.truth, self.last
        junk = set(t["junk"])
        kept_ids = {int(r["doc_id"]) for r in last["kept_q"].select("doc_id").collect()}
        filter_ok = kept_ids == set(range(self.N_DOCS)) - junk
        pairs = [(int(r["left_id"]), int(r["right_id"])) for r in last["pairs"].collect()]
        parent: dict[int, int] = {}

        def find(a):
            while parent.setdefault(a, a) != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        members: dict[int, list[int]] = {}
        for node in list(parent):
            members.setdefault(find(node), []).append(node)
        expect = sorted((rep, len(m), sum(m)) for rep, m in members.items())
        got = sorted(
            (int(c["component"]), int(c["n_docs"]), int(c["id_checksum"])) for c in last["comps"]
        )
        comps_ok = expect == got
        planted = [
            (c[i], c[j]) for c in t["clusters"] for i in range(len(c)) for j in range(i + 1, len(c))
        ] + [tuple(p) for p in t["exact"]]
        together = sum(
            1 for a, b in planted if a in parent and b in parent and find(a) == find(b)
        )
        decontam_ok = set(t["contaminated"]) <= last["flagged"]
        n_out = pq.read_table(last["out"], columns=["doc_id"]).num_rows
        n_expect = len(kept_ids) - sum(len(m) - 1 for m in members.values())
        write_ok = n_out == n_expect - len(last["flagged"])
        ok = filter_ok and comps_ok and decontam_ok and write_ok
        dedup_s = self.run.op_latencies
        return {
            "attempted": len(dedup_s),
            "failed": 0 if ok else 1,
            "checks": {
                "filter": filter_ok, "components": comps_ok,
                "decontam": decontam_ok, "write": write_ok,
            },
            "named": {
                "dedup_s": (median(dedup_s), "s", len(dedup_s)),
                "dedup_pair_recall": (together / len(planted), "ratio", len(planted)),
            },
            "layer": {
                "dedup.verified_pairs": last["n_pairs"],
                **{
                    f"{name}_s": median(self.run.window_durations(name))
                    for name in ("textops.filter", "dedup.minhash_pairs",
                                 "graph.dedup_components", "decontam.bloom", "io.write")
                },
            },
        }


WORKLOADS = {w.name: w for w in (KnnServe, DedupPipeline)}
