#!/usr/bin/env python3
"""Serve / build / dedup benchmark for the engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Workloads are listed in ``workloads.py`` and described in
``perfbench/README.md``. The run generates its inputs from ``--seed``
(cached by seed under ``.perfbench/inputs``), starts one local Spark
session with ``SPARK_GRAFT_CPUS`` = the number of usable CPUs, sets the
workload up once (``setup_s``), measures it for
``--seconds`` seconds, checks the outputs, and prints:

- one ``# name = value unit (n=samples)`` line per named metric and per
  run-metadata item;
- as the last line, one JSON object ``{"correct", "attempted", "failed",
  "metrics"}``; ``metrics`` holds the end-to-end metrics with
  ``--trace 0`` and the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the session writes Spark's event log (uncompressed,
not rolling, through the run's own Spark conf dir), every call into a
layer is a span tagged with its own job group, and the event log is
reduced per span. Spans and the full result go to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
INPUT_CACHE_ENTRIES = 12

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_cpu_ms": "ms"}
SPARK_LAYER = (
    "jobs", "stages", "tasks", "driver_gap_ms", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "output_bytes",
)
# Every per-layer metric, in BENCHMARK.json order. A workload reports 0
# for a layer it never calls.
PER_LAYER = (
    "session.start_s",
    "search.plan_ms", "search.exec_ms", "search.flat_ms", "search.ivf_ms",
    "ann.nearest_centroids_ms", "ann.train_centroids_s", "ann.write_ivf_index_s",
    "streaming.add_batch_ms", "streaming.trigger_ms", "streaming.planning_ms",
    "streaming.get_batch_ms", "streaming.wal_commit_ms", "streaming.queries_per_epoch",
    "streaming.input_rate", "streaming.processed_rate",
    "index_build.build_index_s", "index_build.sidecars_s",
    "index_build.output_bytes", "index_build.files",
    "textops.filter_s", "dedup.minhash_pairs_s", "dedup.verified_pairs",
    "graph.dedup_components_s", "decontam.bloom_s", "io.write_s",
    *(f"spark.{m}" for m in SPARK_LAYER),
    "proc.driver_cpu_s", "proc.jvm_cpu_s", "proc.python_worker_cpu_s",
)


def prepare_env(traced: bool, tag: str) -> str | None:
    """Point every temporary and Spark output of the run into WORK and
    write the run's Spark conf dir. Returns the event-log dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    conf_dir = os.path.join(WORK, "spark-conf")
    for d in (tmp, conf_dir):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    log_dir = None
    if traced:
        log_dir = os.path.join(WORK, "eventlog", tag)
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_DRIVER_MEMORY": "3g",
        "TMPDIR": tmp,
    })
    return log_dir


def prune_inputs(cache: str, keep: int) -> None:
    """Bound the input cache: keep the ``keep`` most recently used entries."""
    if not os.path.isdir(cache):
        return
    entries = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    for d in entries[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def fixed_work_probe(spark) -> float:
    """bench.py's machine yardstick: best of two 50M-row range sums
    through the noop sink."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr("sum(id * 2 + 1) AS s").write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def stop_jvm(proc, pids: list[int]) -> None:
    """Close the JVM's stdin (its shutdown signal), wait for it and for
    every Python worker it started; kill whatever outlives the wait."""
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Run:
    """State shared by the runner and the workload."""

    def __init__(self, seed: int, traced: bool):
        from tracing import Tracer

        self.seed, self.work = seed, WORK
        self.tracer = Tracer(traced)
        self.spark = None
        self.op_latencies: list[float] = []
        self.window_span = None

    def window_durations(self, name: str) -> list[float]:
        w = self.window_span
        return [
            s.dur for s in self.tracer.spans
            if s.name == name and s.end is not None and s.start >= w.start and s.end <= w.end
        ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run_t0 = time.perf_counter()
    traced = bool(args.trace)
    tag = f"{args.workload}-seed{args.seed}"
    log_dir = prepare_env(traced, tag)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import tracing as tr
    import workloads as W
    from pyspark import SparkContext

    from the_build_project_image_retrieval_with_vector_databases_spark.session import get_spark

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    cpu0 = tr.cpu_snapshot(None)
    run = Run(args.seed, traced)
    wl = W.WORKLOADS[args.workload](run)
    cache = os.path.join(WORK, "inputs")
    t0 = time.perf_counter()
    wl.inputs(cache, args.seed)
    gen_s = time.perf_counter() - t0
    prune_inputs(cache, INPUT_CACHE_ENTRIES)

    load0 = os.getloadavg()
    gateway_proc, worker_pids = None, []
    try:
        t0 = time.perf_counter()
        with run.tracer.span("setup"):
            with run.tracer.span("session.start"):
                run.spark = get_spark(app_name=f"perfbench-{tag}")
            gateway_proc = SparkContext._gateway.proc
            run.tracer.sc = run.spark.sparkContext
            session_s = time.perf_counter() - t0
            wl.setup(run.spark)
        setup_s = time.perf_counter() - t0
        jvm_pid = gateway_proc.pid
        with run.tracer.span("probe"):
            probe_before = fixed_work_probe(run.spark)
        cpu_a = tr.cpu_snapshot(jvm_pid)
        with run.tracer.span("window") as run.window_span:
            run.op_latencies = wl.window(args.seconds)
        cpu_b = tr.cpu_snapshot(jvm_pid)
        with run.tracer.span("probe"):
            probe_after = fixed_work_probe(run.spark)
        wl.after_window()
        res = wl.check()
        cpu_end = tr.cpu_snapshot(jvm_pid)
        worker_pids = tr.descendants(jvm_pid)
        wl.teardown()
        run.tracer.sc = None
        run.spark.stop()
    finally:
        stop_jvm(gateway_proc, worker_pids)
    load1 = os.getloadavg()

    ops = len(run.op_latencies)
    window_cpu = tr.cpu_delta(cpu_a, cpu_b)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": float(W.median(run.op_latencies)) * 1e3,
        "op_cpu_ms": sum(window_cpu.values()) / max(ops, 1) * 1e3,
    }
    layer = {name: 0 for name in PER_LAYER}
    layer["session.start_s"] = session_s
    dur = run.window_durations
    layer["search.plan_ms"] = W.median(dur("search.plan")) * 1e3
    layer["search.exec_ms"] = W.median(dur("search.exec")) * 1e3
    for name in ("ann.train_centroids", "ann.write_ivf_index"):
        layer[f"{name}_s"] = W.median(run.tracer.durations(name))
    layer.update(res["layer"])
    layer["proc.driver_cpu_s"] = cpu_end["driver"] - cpu0["driver"]
    layer["proc.jvm_cpu_s"] = cpu_end["jvm"]
    layer["proc.python_worker_cpu_s"] = cpu_end["python_worker"]

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    per_span = {}
    if traced:
        stream_span = next(
            (s for s in run.tracer.spans if s.name == "streaming.window"), None
        )
        per_span = tr.reduce_event_log(log_dir, run.tracer.spans, stream_span)
        w = run.window_span
        in_window = [
            s for s in run.tracer.spans if s.start >= w.start and s.end <= w.end
        ]
        for m in SPARK_LAYER:
            layer[f"spark.{m}"] = sum(per_span[s.id][m] for s in in_window) / max(ops, 1)
        run.tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))

    meta = {
        "run_s": time.perf_counter() - run_t0,
        "wall_s": sum(run.op_latencies),
        "window_cpu_s": window_cpu,
        "ops": ops,
        "op_latencies_ms": [v * 1e3 for v in run.op_latencies],
        "input_gen_s": gen_s,
        "loadavg_start": load0,
        "loadavg_end": load1,
        "fixed_work_probe_s": [probe_before, probe_after],
        "env": _environment(),
    }
    correct = res["failed"] == 0
    result = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": traced, "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"], "error_rate": res["failed"] / res["attempted"],
        "checks": res.get("checks", {}),
        "end_to_end": e2e, "named": res["named"], "per_layer": layer, "meta": meta,
        "per_span_name": tr.by_name(run.tracer.spans, per_span) if traced else {},
    }
    untraced_path = os.path.join(results, f"{tag}-trace0.json")
    if traced and os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)
        if base.get("seconds") == args.seconds:
            result["tracing_overhead"] = {
                k: v - base["end_to_end"][k] for k, v in e2e.items()
            }
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)

    for name, (value, unit, n) in res["named"].items():
        print(f"# {args.workload} {name} = {value:.6g} {unit} (n={n})")
    print(f"# {args.workload} error_rate = {result['error_rate']:.6g} ratio (n={res['attempted']})")
    for name, value in e2e.items():
        print(f"# {args.workload} {name} = {value:.6g} {END_TO_END[name]} (n={ops if name != 'setup_s' else 1})")
    print(f"# meta run_s = {meta['run_s']:.4g}, window wall_s = {meta['wall_s']:.4g}, cpu_s = "
          + ", ".join(f"{k} {v:.4g}" for k, v in window_cpu.items()))
    print(f"# meta loadavg {load0[0]:.2f} -> {load1[0]:.2f}, fixed-work probe "
          f"{probe_before:.3f} s / {probe_after:.3f} s")
    if "tracing_overhead" in result:
        print("# tracing overhead (traced - untraced): " + ", ".join(
            f"{k} {v:+.4g}" for k, v in result["tracing_overhead"].items()))
    metrics = (
        {k: {"value": layer[k], "unit": _layer_unit(k)} for k in PER_LAYER}
        if traced
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_rate", "1/s")):
        if name.endswith(suffix):
            return unit
    return "count"


def _environment() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
    }


if __name__ == "__main__":
    sys.exit(main())
