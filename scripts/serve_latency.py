#!/usr/bin/env python
"""Interactive-serving latency benchmark.

Measures the reference's interactive query path (upload → embed → kNN →
join, ``app.py:124-179``) as the engine serves it: a Structured
Streaming ``rate`` source emits query arrivals at a steady rate; each
microbatch maps arrivals onto corpus vectors, runs the broadcast kNN
join against the cached sf0.1 corpus (2 000 × 64-D) and materializes
results; per-batch END-TO-END latency (oldest arrival timestamp →
results materialized) is recorded by ``streaming.queries.serve_loop_rate``.

Reported: p50 / p95 / max per-microbatch latency over a fixed serving
window, after discarding the first two batches (JVM/codegen warm-up —
the steady-state SLO is the serving number; cold-start is a deploy
property). Writes one JSON line and SERVE_LATENCY.json.

Usage: python scripts/serve_latency.py [seconds] [rows_per_second]

Tier modes ("where does the knee move"):

  python scripts/serve_latency.py --ivf|--bq|--bqivf|--bqivf-rescored \
      [corpus_dir] [seconds] [rate ...]

run the same rate-source loop on another index tier
(``serve_loop_rate(index=...)``; the IVF tiers over the materialized
``partitionBy(centroid)`` layout of ``corpus_dir``'s embeddings table,
nprobe priced by RECALL_CURVE.json) and MERGE a ``<tier>_tier`` section
into SERVE_LATENCY.json next to the flat-scan numbers instead of
overwriting them.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from the_build_project_image_retrieval_with_vector_databases_spark.session import (
    get_spark,
)
from the_build_project_image_retrieval_with_vector_databases_spark.streaming.queries import (
    serve_loop_rate,
)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def pct(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    i = min(len(xs) - 1, max(0, round(p * (len(xs) - 1))))
    return xs[i]


def run_one(
    spark, window_s: int, rate: int, corpus, index: str = "flat", **tier
) -> dict:
    """One serving window of ``serve_loop_rate`` on ``index``; ``tier``
    carries the IVF/BQ arguments (centroids, nprobe, rerank). The
    caller reads ``corpus`` ONCE and shares it across runs — re-reading
    per run would pin a fresh duplicate cache entry of the same table
    every sweep point (the flat/ivf tiers cache their input)."""
    latencies: list[float] = []
    cache: list = []
    q = serve_loop_rate(
        spark, corpus, k=5, index=index, rows_per_second=rate,
        latencies=latencies, trigger_ms=1000, code_cache=cache, **tier,
    )
    try:
        time.sleep(window_s)
    finally:
        q.stop()
        for df in cache:
            df.unpersist()
    warm = latencies[2:]
    row = {
        "rows_per_second": rate,
        "window_s": window_s,
        "n_batches": len(latencies),
        "warm_batches": len(warm),
        "p50_s": round(pct(warm, 0.50), 3) if warm else None,
        "p95_s": round(pct(warm, 0.95), 3) if warm else None,
        "max_s": round(max(warm), 3) if warm else None,
        "cold_first_batch_s": round(latencies[0], 3) if latencies else None,
    }
    if "nprobe" in tier:
        row["nprobe"] = tier["nprobe"]
    return row


def _merge_section(key: str, section: dict) -> None:
    """Merge one section into SERVE_LATENCY.json, keeping the others."""
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "SERVE_LATENCY.json")
    art = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            art = json.load(f)
    art[key] = section
    with open(out_path, "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)


_TIER_NOTES = {
    "bq_ivf": (
        "Composed tier: SWAR Hamming scan restricted to each query's "
        "nprobe probed inverted lists (partition-pruned scan bytes AND "
        "16x-smaller code reads); ranks are raw Hamming within probed "
        "lists — no float rescore stage (recall = the nprobe curve x "
        "the sign-quantization curve, priced in RECALL_CURVE.json "
        "bq_ivf). At 2M x 64-D this is the best-measured serving tier: "
        "it holds the rate-loop knee below pure IVF (which pays "
        "full-precision BLAS inside probed lists) and far below pure "
        "BQ (which scans all 2M codes per epoch)."
    ),
    "bq_ivf_rescored": (
        "Production composed tier: SWAR Hamming shortlist at "
        "k*overfetch within each query's probed inverted lists, then "
        "exact float re-rank of the shortlist only (Catalyst "
        "zip_with/aggregate over a broadcast shortlist join -- no "
        "second Python hop). Float work per epoch is Q*k*ov*D on the "
        "shortlist instead of pure IVF's (nprobe/k_cents)*N*Q*D over "
        "the probed lists; popcount work unchanged from bq_ivf_tier. "
        "Recall at this operating point: RECALL_CURVE.json "
        "bq_ivf_rescored (nprobe=4, ov=16 recovers ~96% of the "
        "nprobe=4 IVF ceiling on the fixture corpus)."
    ),
}


def main_tier(index: str, rerank: int = 0) -> None:
    """Rate-loop sweep of one non-flat tier under the flat sweep's
    protocol — 1 s trigger, 256-vector payload pool, a discarded
    warm-up run (same C2-ramp rationale), rates 250/500/1000 by
    default — merged into SERVE_LATENCY.json as ``<tier>_tier`` next to
    the other tiers' numbers:

      ivf              — Arrow/BLAS scan of the probed inverted lists
      bq               — packed-code Hamming scan of the whole corpus
      bq_ivf           — Hamming scan of the probed lists
      bq_ivf_rescored  — bq_ivf shortlist at k·ov, exact float re-rank

    The IVF tiers use ``corpus_dir``'s prebuilt ``ivf_layout`` +
    ``centroids.json`` when present (``--build2m``), else the
    content-addressed layout of its embeddings table; nprobe comes from
    SPARK_GRAFT_NPROBE (default 4), ov from SPARK_GRAFT_RESCORE_OV."""
    args = [a for a in sys.argv[2:]]
    corpus_dir = args.pop(0) if args and not args[0].isdigit() else BASE
    window_s = int(args.pop(0)) if args else 35
    rates = [int(x) for x in args] or [250, 500, 1000]
    label = index + ("_rescored" if rerank else "")

    spark = get_spark(app_name=f"serve-latency-{label}", shuffle_partitions=8)
    section: dict = {"corpus_dir": corpus_dir, "trigger_ms": 1000}
    tier: dict = {}
    if index == "bq":
        corpus = spark.read.parquet(os.path.join(corpus_dir, "embeddings.parquet"))
    else:
        path = os.path.join(corpus_dir, "ivf_layout")
        cents_path = os.path.join(corpus_dir, "centroids.json")
        if os.path.exists(cents_path):
            with open(cents_path) as f:
                centroids = json.load(f)
        else:
            from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
                _ivf_layout,
            )

            path, centroids = _ivf_layout(spark, corpus_dir)
        corpus = spark.read.parquet(path)
        tier = {
            "centroids": centroids,
            "nprobe": int(os.environ.get("SPARK_GRAFT_NPROBE", "4")),
        }
        section.update(
            layout=path, k_centroids=len(centroids), nprobe=tier["nprobe"]
        )
    if rerank:
        tier["rerank"] = rerank
        section["rescore_overfetch"] = rerank
    if label in _TIER_NOTES:
        section["note"] = _TIER_NOTES[label]
    run_one(spark, min(window_s, 15), rates[0], corpus, index, **tier)
    section["warmup"] = f"{min(window_s, 15)}s@{rates[0]}qps discarded"
    section["runs"] = [
        run_one(spark, window_s, r, corpus, index, **tier) for r in rates
    ]
    corpus.unpersist()
    _merge_section(f"{label}_tier", section)
    print(json.dumps({"metric": f"serve_latency_{label}", **section}))


def main_build2m() -> None:
    """Rebuild the 2M×64-D serve corpus (/tmp/spark_graft_serve2m) the
    tier sweeps measure against — /tmp is not persistent, so its
    construction lives here: the 100× derived
    corpus (scripts/scale_proof.py build, 200k vectors, distance-
    preserving rotation replicas) replicated 10× with id offsets;
    IVF layout (16 lowest-id centroids, partitionBy(centroid)) +
    centroids.json written next to it."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_proof",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "scale_proof.py"),
    )
    sp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sp)

    spark = get_spark(app_name="build-serve2m", shuffle_partitions=32)
    d100 = "/tmp/spark_graft_scale100x"
    ver = os.path.join(d100, "VERSION")
    if not (os.path.exists(ver) and open(ver).read() == sp.BUILD_VERSION):
        sp.REPLICAS = 100
        sp.build_scaled(spark, d100)
    d2 = "/tmp/spark_graft_serve2m"
    emb = spark.read.parquet(os.path.join(d100, "embeddings.parquet"))
    m = emb.count()
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(r * m))
        for r in range(10)
    ]
    scaled = parts[0]
    for p in parts[1:]:
        scaled = scaled.unionAll(p)
    scaled.repartition(32).write.mode("overwrite").parquet(
        os.path.join(d2, "embeddings.parquet")
    )
    emb2 = spark.read.parquet(os.path.join(d2, "embeddings.parquet"))
    cents = [
        [float(x) for x in r.embedding]
        for r in emb2.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    ]
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        write_ivf_index,
    )

    write_ivf_index(emb2, os.path.join(d2, "ivf_layout"), cents)
    with open(os.path.join(d2, "centroids.json"), "w") as f:
        json.dump(cents, f)
    print(json.dumps({"metric": "build2m", "n_vectors": m * 10, "dir": d2}))


def main_attrib() -> None:
    """Attribute the ~0.5-0.7 s single-query fixed cost: time each
    layer of one flat Arrow-kernel call on the cached 200k corpus and
    difference them. Layers, each min-of-N warm:
      scheduler_floor  — a 32-task no-op job on a cached 32-row df
                         (task scheduling + py4j round-trip, no data)
      arrow_ship       — mapInArrow over the SAME projected corpus
                         returning one-row batches (Arrow serialization
                         of 200k x (id + 64-D vector) to the Python
                         workers + worker turnaround, no math)
      reexec_same_df   — .collect() of an ALREADY-PLANNED kNN call
                         (execution only: no analysis, codegen cached)
      full_call        — build + analyze + plan + execute + collect
      kernel_math      — driver-side numpy twin of the per-call matmul
    Attribution: plan_compile = full - reexec; scoring = reexec -
    arrow_ship (kernel math + candidate rank window + result
    collect); arrow_ship - scheduler_floor = serialization proper.
    Merges ``single_query_cost_breakdown`` into SERVE_LATENCY.json."""
    import numpy as np

    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow,
    )

    corpus_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_scale100x"
    n_runs = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    warm = 3
    spark = get_spark(app_name="serve-attrib", shuffle_partitions=8)
    emb = spark.read.parquet(
        os.path.join(corpus_dir, "embeddings.parquet")
    ).cache()
    n_corpus = emb.count()
    pool_rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.col("vec_id").asc()).limit(32).collect()
    )
    pool = [(int(r[0]), [float(x) for x in r[1]]) for r in pool_rows]

    def timed(fn) -> dict:
        xs = []
        for i in range(warm + n_runs):
            t0 = time.perf_counter()
            fn(i)
            if i >= warm:
                xs.append(time.perf_counter() - t0)
        return {
            "min_s": round(min(xs), 4),
            "p50_s": round(pct(xs, 0.50), 4),
            "max_s": round(max(xs), 4),
        }

    tiny = spark.range(32, numPartitions=32).cache()
    tiny.count()
    floor = timed(lambda i: tiny.count())

    proj = emb.select("vec_id", "embedding")

    def passthrough(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_pydict({"n": [batch.num_rows]})

    ship = timed(
        lambda i: proj.mapInArrow(passthrough, "n long").collect()
    )
    # pre-built passthrough: NO shuffle in this plan, so every
    # re-collect re-runs the whole Arrow ship + Python worker pass —
    # ship WITHOUT the per-call plan compile
    pass_fixed = proj.mapInArrow(passthrough, "n long")
    pass_fixed.collect()
    ship_exec = timed(lambda i: pass_fixed.collect())

    fixed = knn_join_arrow(emb, [pool[0][0]], [pool[0][1]], k=5)
    fixed.collect()  # analyze + codegen once
    # NOTE: the kNN plan ends in a rank-window EXCHANGE; re-collecting
    # the SAME DataFrame skips the completed shuffle-map stage (the
    # scan+score mapInArrow — shuffle files ARE its materialization),
    # so this times the result stage alone, not a repeat of the scan.
    reexec = timed(lambda i: fixed.collect())

    full = timed(
        lambda i: knn_join_arrow(
            emb, [pool[i % 32][0]], [pool[i % 32][1]], k=5
        ).collect()
    )

    mat = np.asarray([v for _, v in pool], dtype=np.float64)
    xs_np = []
    x_all = np.random.default_rng(0).standard_normal((n_corpus, 64))
    for i in range(warm + n_runs):
        q = mat[i % 32][None, :]
        t0 = time.perf_counter()
        d = ((x_all * x_all).sum(1)[:, None] - 2.0 * (x_all @ q.T)
             + (q * q).sum())
        np.argpartition(d[:, 0], 5)
        if i >= warm:
            xs_np.append(time.perf_counter() - t0)
    kernel_math = {"min_s": round(min(xs_np), 4),
                   "p50_s": round(pct(xs_np, 0.50), 4)}

    section = {
        "corpus": f"{corpus_dir} ({n_corpus} x 64-D, cached)",
        "n_runs": n_runs,
        "scheduler_floor": floor,
        "arrow_ship_fresh_plan": ship,
        "arrow_ship_prebuilt_plan": ship_exec,
        "reexec_same_knn_df_result_stage_only": reexec,
        "full_call": full,
        "kernel_math_numpy_single_thread": kernel_math,
        "attribution_p50_s": {
            "task_scheduling_py4j_floor": floor["p50_s"],
            "arrow_ship_and_python_worker": round(
                ship_exec["p50_s"] - floor["p50_s"], 4
            ),
            "plan_compile_simple_mapinpandas": round(
                ship["p50_s"] - ship_exec["p50_s"], 4
            ),
            "knn_over_passthrough_delta": round(
                full["p50_s"] - ship["p50_s"], 4
            ),
            "rank_window_result_stage": reexec["p50_s"],
        },
        "reading": (
            "full_call p50 - prebuilt passthrough p50 isolates what a "
            "fresh kNN call adds over a fresh trivial Arrow pass: the "
            "bigger plan's analysis/codegen plus kernel math plus the "
            "rank-window stage. reexec_same_knn_df shows Spark skips "
            "the completed shuffle-map stage on re-collect (shuffle "
            "files are the materialization) — a REPEATED query on a "
            "kept DataFrame serves from the rank stage alone. The "
            "amortization lever for distinct queries is batching "
            "(search_batch: one plan for Q queries), not plan reuse."
        ),
    }
    _merge_section("single_query_cost_breakdown", section)
    print(json.dumps({"metric": "single_query_cost_breakdown", **section}))


def main() -> None:
    window_s = int(sys.argv[1]) if len(sys.argv) > 1 else 35
    rates = [int(x) for x in sys.argv[2:]] or [100, 500]
    # serving batches are tiny: a small fixed shuffle width keeps
    # per-epoch stage overhead out of the latency measurement
    spark = get_spark(app_name="serve-latency", shuffle_partitions=8)
    # Discarded warm-up window: the JVM's C2 ramp spans MANY microbatch
    # jobs, so the first measured run would otherwise report ~+0.4 s
    # p50 purely from compilation (measured: first 35 s run p50
    # 1.99 s vs 1.65 s for an identical back-to-back run). Steady-state
    # is the serving SLO. NOTE: with the warm-up discarded,
    # cold_first_batch_s measures per-STREAM startup (first microbatch
    # scheduling/queueing), not JVM cold-start — the deploy cold-start
    # figure is the warm-up run's first batch, which this script
    # deliberately does not report.
    corpus = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    run_one(spark, min(window_s, 15), rates[0], corpus)
    out = {
        "metric": "serve_latency",
        "sf_dir": BASE,
        "trigger_ms": 1000,
        "warmup": f"{min(window_s, 15)}s@{rates[0]}qps discarded",
        "runs": [run_one(spark, window_s, r, corpus) for r in rates],
    }
    line = json.dumps(out)
    print(line)
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "SERVE_LATENCY.json"), "w") as f:
        f.write(line + "\n")


def main_single() -> None:
    """Single-query latency: p50/p95 of ONE query
    through the Arrow kernels directly — no rate loop, no trigger
    interval, no arrival queueing. This is the engine's honest answer
    to the reference's interactive click (app.py:171 ``index.search``
    of one uploaded image): call → collect, wall-clock per call.

    Flat (knn_join_arrow) vs IVF (knn_join_arrow_ivf, nprobe=4/16) on
    the serve corpora: 200k × 64-D (/tmp/spark_graft_scale100x)
    and 2M × 64-D (/tmp/spark_graft_serve2m, prebuilt
    partitionBy(centroid) layout). Both tiers run against CACHED
    inputs (the steady-state serving memory model); 5 discarded
    warm-up calls per tier cover the documented C2 ramp; queries
    rotate through 32 real corpus vectors so no call is a cache twin
    of the previous one.

    Usage: python scripts/serve_latency.py --single [n_runs]
    Merges a ``single_query_latency`` section into SERVE_LATENCY.json.
    """
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.ann import (
        nearest_centroids,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
        knn_join_arrow,
        knn_join_arrow_ivf,
    )
    from the_build_project_image_retrieval_with_vector_databases_spark.queries_ann import (
        _ivf_layout,
    )

    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    warm = 5
    k, nprobe = 5, 4
    spark = get_spark(app_name="serve-single", shuffle_partitions=8)

    def qpool(df, n=32):
        rows = (
            df.select("vec_id", "embedding")
            .orderBy(F.col("vec_id").asc())
            .limit(n)
            .collect()
        )
        return [(int(r[0]), [float(x) for x in r[1]]) for r in rows]

    def sweep(call) -> dict:
        lats = []
        for i in range(warm + n_runs):
            t0 = time.perf_counter()
            call(i).collect()
            dt = time.perf_counter() - t0
            if i >= warm:
                lats.append(dt)
        return {
            "n_runs": n_runs,
            "p50_s": round(pct(lats, 0.50), 4),
            "p95_s": round(pct(lats, 0.95), 4),
            "max_s": round(max(lats), 4),
        }

    section: dict = {
        "k": k,
        "nprobe": nprobe,
        "method": (
            f"{warm} discarded warm calls then {n_runs} timed single-query "
            "calls per tier, queries rotating through 32 real corpus "
            "vectors, cached corpus/layout, wall-clock call->collect"
        ),
    }

    for label, corpus_dir in (("corpus_200k", "/tmp/spark_graft_scale100x"),):
        emb = spark.read.parquet(
            os.path.join(corpus_dir, "embeddings.parquet")
        ).cache()
        emb.count()
        pool = qpool(emb)
        path, cents = _ivf_layout(spark, corpus_dir)
        layout = spark.read.parquet(path).cache()
        layout.count()
        flat = sweep(lambda i: knn_join_arrow(
            emb, [pool[i % 32][0]], [pool[i % 32][1]], k=k))
        ivf = sweep(lambda i: knn_join_arrow_ivf(
            layout, [pool[i % 32][0]], [pool[i % 32][1]],
            [nearest_centroids(cents, pool[i % 32][1], nprobe)], k=k))
        section[label] = {"corpus": corpus_dir, "flat": flat, "ivf": ivf}
        emb.unpersist(); layout.unpersist()

    d2 = "/tmp/spark_graft_serve2m"
    if os.path.exists(os.path.join(d2, "centroids.json")):
        with open(os.path.join(d2, "centroids.json")) as f:
            cents = json.load(f)
        emb = spark.read.parquet(os.path.join(d2, "embeddings.parquet")).cache()
        emb.count()
        pool = qpool(emb)
        layout = spark.read.parquet(os.path.join(d2, "ivf_layout")).cache()
        layout.count()
        flat = sweep(lambda i: knn_join_arrow(
            emb, [pool[i % 32][0]], [pool[i % 32][1]], k=k))
        ivf = sweep(lambda i: knn_join_arrow_ivf(
            layout, [pool[i % 32][0]], [pool[i % 32][1]],
            [nearest_centroids(cents, pool[i % 32][1], nprobe)], k=k))
        # BQ tier: packed 16-byte codes through the Arrow
        # Hamming kernel — the rescore-tier latency story at 2M
        from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
            knn_join_arrow_hamming,
        )
        from the_build_project_image_retrieval_with_vector_databases_spark.operators.pq import (
            bq_encode_cols,
            bq_encode_query,
            bq_train_thresholds,
        )

        train = [v for _, v in pool[:16]]
        thr = bq_train_thresholds(train)
        lo, hi = bq_encode_cols(thr, len(train))
        codes = emb.select(
            "vec_id", lo.alias("bq_lo"), hi.alias("bq_hi")
        ).cache()
        codes.count()
        qh = [bq_encode_query(v, thr, len(train)) for _, v in pool]
        bq = sweep(lambda i: knn_join_arrow_hamming(
            codes, [pool[i % 32][0]], [qh[i % 32]], k=k))
        # composed tiers: Hamming within probed lists, raw and
        # with the float-rescore stage — the single-query twins of the
        # bq_ivf_tier / bq_ivf_rescored_tier rate loops
        from the_build_project_image_retrieval_with_vector_databases_spark.operators.knn import (
            knn_join_arrow_hamming_ivf,
            knn_join_arrow_hamming_ivf_rescored,
        )

        ccodes = layout.select(
            "vec_id", "centroid", lo.alias("bq_lo"), hi.alias("bq_hi")
        ).cache()
        ccodes.count()
        floats = (
            layout.select("vec_id", "centroid", "embedding")
            .repartitionByRange(
                spark.sparkContext.defaultParallelism, F.col("centroid")
            )
            .cache()
        )
        floats.count()
        bq_ivf = sweep(lambda i: knn_join_arrow_hamming_ivf(
            ccodes, [pool[i % 32][0]], [qh[i % 32]],
            [nearest_centroids(cents, pool[i % 32][1], nprobe)], k=k))
        ov = int(os.environ.get("SPARK_GRAFT_RESCORE_OV", "16"))
        bq_ivf_resc = sweep(lambda i: knn_join_arrow_hamming_ivf_rescored(
            ccodes, floats, [pool[i % 32][0]], [pool[i % 32][1]],
            [qh[i % 32]],
            [nearest_centroids(cents, pool[i % 32][1], nprobe)],
            k=k, overfetch=ov))
        section["corpus_2m"] = {
            "corpus": d2, "flat": flat, "ivf": ivf, "bq": bq,
            "bq_ivf": bq_ivf,
            "bq_ivf_rescored": {**bq_ivf_resc, "overfetch": ov},
        }
        emb.unpersist(); layout.unpersist(); codes.unpersist()
        ccodes.unpersist(); floats.unpersist()

    _merge_section("single_query_latency", section)
    print(json.dumps({"metric": "single_query_latency", **section}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--ivf":
        main_tier("ivf")
    elif len(sys.argv) > 1 and sys.argv[1] == "--single":
        main_single()
    elif len(sys.argv) > 1 and sys.argv[1] == "--bq":
        main_tier("bq")
    elif len(sys.argv) > 1 and sys.argv[1] == "--bqivf":
        main_tier("bq_ivf")
    elif len(sys.argv) > 1 and sys.argv[1] == "--bqivf-rescored":
        main_tier(
            "bq_ivf", rerank=int(os.environ.get("SPARK_GRAFT_RESCORE_OV", "16"))
        )
    elif len(sys.argv) > 1 and sys.argv[1] == "--build2m":
        main_build2m()
    elif len(sys.argv) > 1 and sys.argv[1] == "--attrib":
        main_attrib()
    else:
        main()
