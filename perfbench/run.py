"""Benchmark of the Spark RAG engine: batch ingest, and serving reads beside index writes.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a fuller report (every metric of
perfbench/README.md that applies to the workload, sample counts, sizes,
host calibration). ``--trace 1`` also writes the span-level artifact to
``.perfbench_out/``. All scratch state lives in ``.perfbench_work/`` under
the repository root and is removed at exit; serve's prepared starting
layouts stay in ``.perfbench_cache/`` for the next run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "ingest_curate")
DRIVER_MEM_MB = 2048
# serve's starting layouts: built from the fixed serving corpus by the
# first serve run in a checkout (in a child process, so every measured
# process starts cold), then copied by each run
LAYOUTS = os.path.join(ROOT, ".perfbench_cache", "serve-layouts")


def pin_environment(work: str, trace: bool) -> dict:
    """Launch settings the benchmark owns: core count, heap, and every
    scratch directory inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "warehouse", "derby", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
        })
    java_opts = (f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/derby "
                 "-XX:-UsePerfData")
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{DRIVER_MEM_MB}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": f'{args} --driver-java-options "{java_opts}" pyspark-shell',
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    return {"cpus": cpus, "driver_mem_mb": DRIVER_MEM_MB}


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: a host speed reading that
    travels with every result."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still uses it


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(run, session_s: float) -> dict:
    from perfbench.reference import tail

    tail_ms, tail_pct = tail(run.latencies_ms)
    kinds = [statistics.median(v) for v in run.by_kind_ms.values()]
    return {
        "setup_s": (session_s + _median(run.setup_s) if run.setup_s else session_s, "s"),
        "latency_ms": (statistics.geometric_mean(kinds), "ms"),
        "throughput_per_s": (run.units_done / run.timed_s, "1/s"),
        "space_amp": (run.space_amp, "ratio"),
    }, {"latency_tail_ms": tail_ms, "latency_tail_pct": tail_pct, "samples": len(run.latencies_ms)}


def issue_metrics(workload: str, run, e2e: dict) -> dict:
    """The per-workload end-to-end metrics of perfbench/README.md."""
    from perfbench.reference import tail

    def p50(kind):
        return _median(run.by_kind_ms.get(kind, []))

    out = {"setup_s": e2e["setup_s"][0], "space_amp": run.space_amp,
           "error_rate": run.failed / max(1, run.attempted)}
    if workload == "ingest_curate":
        out["ingest_docs_per_s"] = e2e["throughput_per_s"][0]
    else:
        t, pct = tail(run.latencies_ms)
        writes = run.by_kind_ms.get("write_visible", [])
        wt, wpct = tail(writes)
        out.update({"search_p50_ms": _median(run.latencies_ms), "search_tail_ms": t,
                    "search_tail_pct": pct, "search_samples": len(run.latencies_ms),
                    "search_qps": len(run.latencies_ms) / (sum(run.latencies_ms) / 1e3),
                    **{f"{k}_p50_ms": p50(k) for k in ("ann", "lexical", "hybrid")},
                    "write_visible_p50_ms": _median(writes), "write_visible_tail_ms": wt,
                    "write_visible_tail_pct": wpct, "write_visible_samples": len(writes)})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}-{a.workload}")
    env = pin_environment(work, bool(a.trace))
    sys.path.insert(0, ROOT)
    try:
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import get_spark
        import pyspark
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        _remove_work(work)
        return 3
    from perfbench import workloads as W
    from perfbench.tracing import NullTracer, Tracer

    if a.prepare:
        return prepare(work)
    if a.workload == "serve" and not os.path.isdir(LAYOUTS):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", "serve", "--seed", "0",
                        "--seconds", "0", "--prepare"], check=True, timeout=600, stdout=subprocess.DEVNULL)
    W.self_check()
    calib = calibrate()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(W.PKG, os.path.join(work, "events")) if a.trace else NullTracer()
        if a.trace:
            tracer.install(spark)
        eng = W.Engine(spark, work, tracer, LAYOUTS)
        run = getattr(W, a.workload)(eng, a.seed, a.seconds)
        index_dirs = run.extra.pop("index_dirs", [])
        index_stats = W.dir_bytes(*index_dirs)
        if a.trace:
            tracer.uninstall()
    finally:
        if spark is not None:
            stop_spark(spark)
        if not a.trace:
            _remove_work(work)

    e2e, tail_info = end_to_end(run, session_s)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "metrics": issue_metrics(a.workload, run, e2e), "tail": tail_info,
        "latency_by_kind_ms": {k: _median(v) for k, v in run.by_kind_ms.items()},
        "samples_by_kind": {k: len(v) for k, v in run.by_kind_ms.items()},
        "sizes": run.sizes, "extra": run.extra, "errors": run.errors,
        "env": {**env, "pyspark": pyspark.__version__, "python": platform.python_version(),
                "host_calibration_s": calib, "session_start_s": session_s},
    }
    if a.trace:
        metrics = layer_metrics(tracer, run, session_s, index_stats, work)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        artifact = os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}.json")
        with open(artifact, "w") as fh:
            json.dump({"report": report, "per_layer": metrics, "ops": tracer.ops,
                       "spans": tracer.spans, "streaming": tracer.progress}, fh)
        report["artifact"] = os.path.relpath(artifact, ROOT)
        result_metrics = {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}
    else:
        result_metrics = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()}
    _remove_work(work)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": result_metrics}))
    return 0


def prepare(work: str) -> int:
    """Build serve's starting layouts into LAYOUTS; the rename at the end
    makes them appear whole."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import get_spark
    from perfbench import workloads as W
    from perfbench.tracing import NullTracer

    tmp = f"{LAYOUTS}.{os.getpid()}"
    spark = None
    try:
        spark = get_spark("perfbench-prepare")
        spark.sparkContext.setLogLevel("ERROR")
        W.prepare_serve(W.Engine(spark, work, NullTracer(), LAYOUTS), tmp)
        stop_spark(spark)
        spark = None
        os.rename(tmp, LAYOUTS)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        _remove_work(work)
    return 0


def layer_metrics(tracer, run, session_s: float, index_stats, work: str) -> dict:
    """Per-layer metrics, each a mean per benchmark operation unless it is
    a whole-run figure (session start, index state, streaming totals)."""
    from perfbench.tracing import LAYERS, parse_event_log

    span_m = tracer.layer_metrics()
    n_ops = max(1, span_m.pop("trace.ops"))
    out: dict[str, tuple] = {"session.start_s": (session_s, "s")}
    for layer in ("sources", "functions", "operators", "plans", "streaming", "bench", "spark"):
        if layer in LAYERS:
            out[f"{layer}.build_ms"] = (span_m.get(f"{layer}.build_ms", 0.0), "ms")
        out[f"{layer}.py4j_calls"] = (span_m.get(f"{layer}.py4j_calls", 0.0), "count")
    for k in ("operators.pins", "operators.pin_ms", "spark.catalyst_ms", "spark.exec_ms"):
        out[k] = (span_m.get(k, 0.0), "count" if k.endswith("pins") else "ms")
    opens = [s for s in tracer.spans if s["name"] in (
        "operators.pq_index.open_ivfpq_index", "operators.bm25.Bm25Searcher.__init__")]
    out["operators.index_open_ms"] = (
        sum(s["end"] - s["start"] for s in opens) * 1e3 / max(1, len(opens) / 2), "ms")
    ev = parse_event_log(os.path.join(work, "events"), tracer.ops)
    tot: dict[str, float] = {}
    for per in ev.values():
        for k, v in per.items():
            tot[k] = max(tot.get(k, 0.0), v) if k == "peak_heap_mb" else tot.get(k, 0.0) + v
    build_jobs = _build_actions(tracer)
    for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
                    ("gc_ms", "ms"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                    ("spill_mb", "MB"), ("output_mb", "MB"), ("input_mb", "MB")):
        out[f"spark.{k}"] = (tot.get(k, 0.0) / n_ops, unit)
    out["spark.peak_heap_mb"] = (tot.get("peak_heap_mb", 0.0), "MB")
    results = max(1, run.extra.get("result_rows", 1))
    out["spark.records_read_per_result"] = (tot.get("records_read", 0.0) / results, "ratio")
    out["operators.driver_actions"] = (build_jobs / n_ops, "count")
    out["sources.files_in"] = (run.extra.get("files_in", 0), "count")
    out["sources.files_rejected"] = (run.extra.get("files_rejected", 0), "count")
    out["sources.pages"] = (run.extra.get("pages", 0), "count")
    out["sources.python_udf_rows"] = (tot.get("python_udf_rows", 0.0) / n_ops, "count")
    out["sources.python_udf_mb"] = (tot.get("python_udf_mb", 0.0) / n_ops, "MB")
    dd = run.extra.get("dedup", {})
    out["operators.dedup_candidates"] = (dd.get("candidates", 0), "count")
    out["operators.dedup_confirmed"] = (dd.get("confirmed", 0), "count")
    ann_rows = run.extra.get("ann_result_rows", 0)
    out["operators.ann_candidates_per_result"] = (tot.get("codes_rows_read", 0.0) / max(1, ann_rows), "ratio")
    files, size, parts = index_stats
    out["index.files"] = (files, "count")
    out["index.files_per_partition"] = (files / max(1, parts), "ratio")
    out["index.bytes"] = (size, "bytes")
    out["index.partitions_scanned"] = (tot.get("partitions_read", 0.0) / n_ops, "count")
    landed = run.extra.get("landed_bytes", 0)
    out["index.write_amp"] = (
        sum(ev.get(o["id"], {}).get("output_mb", 0.0) for o in tracer.ops
            if o["kind"] == "delete") * 1e6 / landed if landed else 0.0, "ratio")
    prog = tracer.progress
    out["streaming.batches"] = (len(prog), "count")
    out["streaming.input_rows"] = (sum(p.get("numInputRows", 0) for p in prog), "count")
    for k, src in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                   ("planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit")):
        out[f"streaming.{k}"] = (sum((p.get("durationMs") or {}).get(src, 0) for p in prog), "ms")
    out["trace.self_time_coverage_min"] = (span_m["trace.self_time_coverage_min"], "ratio")
    out["trace.ops"] = (n_ops, "count")
    return out


def _build_actions(tracer) -> int:
    """Spark actions, writes and pins started inside package calls rather
    than by the benchmark itself: spans of those kinds whose parent is a
    package layer span."""
    n = 0
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["layer"] in ("spark", "pin") and s["parent"] is not None and by_id[s["parent"]]["layer"] not in ("bench", "spark", "pin"):
            n += 1
    return n


if __name__ == "__main__":
    sys.exit(main())
