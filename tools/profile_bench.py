"""Per-query physical profile of the bench headline set (guide §1):
runs each headline query once through the noop sink with the Spark
event log enabled, then parses the log into per-query

    wall_s, n_jobs, n_stages, n_tasks, task_time_s,
    shuffle_read_mb, shuffle_write_mb

so optimization targets the measured bottleneck (job-count overhead vs
shuffle bytes vs compute) instead of a guess. Queries are attributed to
jobs via ``setJobGroup`` (one group per query name).

Usage:  python tools/profile_bench.py [query ...]
        (no args = the full bench HEADLINE list)
Output: one JSON line per query on stdout + a sorted summary table on
        stderr. Does NOT touch BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    evdir = tempfile.mkdtemp(prefix="spark_events_")
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    from pyspark.sql import SparkSession

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.session import (
        default_parallelism,
    )

    cpus = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-bench")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{evdir}")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import bench

    all_queries = dict(
        __import__(
            "ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans",
            fromlist=["plans"],
        ).all_queries()
    )
    # bench.py's amortized-index overrides (ivfpq searcher, semdedup /
    # bfs production centroids) — reuse its wiring by running its setup
    # inline, matching what the headline measures.
    names = sys.argv[1:] or bench.HEADLINE
    need_overrides = {
        "knn_ivfpq_search", "semdedup_production", "semantic_bfs_production"
    } & set(names)
    if need_overrides:
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.catalog import (
            load_table,
        )
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators import (
            pq_index as PI,
        )
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.knn import (
            fit_centroids,
        )
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.semdedup import (
            semdedup,
        )
        from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.vectors import (
            SEMDEDUP_CELL_TARGET,
            SEMDEDUP_TAU,
            semantic_bfs_production_df,
        )

        idx_path = tempfile.mkdtemp(prefix="bench_ivfpq_")
        emb = load_table(spark, sf_dir, "embeddings")
        PI.build_ivfpq_index(emb, idx_path, n_cells=8, m=8, kc=32)
        searcher = PI.open_ivfpq_index(spark, idx_path, emb)
        sd_cells = max(1, emb.count() // SEMDEDUP_CELL_TARGET)
        sd_centroids = fit_centroids(emb, sd_cells, "embedding")

        all_queries["knn_ivfpq_search"] = lambda s, d: searcher.search(
            load_table(s, d, "embeddings").where("vec_id < 5"), k=5
        )
        all_queries["semdedup_production"] = lambda s, d: semdedup(
            load_table(s, d, "embeddings"), n_cells=sd_cells,
            threshold=SEMDEDUP_TAU, order="centroid", centroids=sd_centroids,
        )
        all_queries["semantic_bfs_production"] = (
            lambda s, d: semantic_bfs_production_df(
                load_table(s, d, "embeddings"), sd_cells,
                centroids=sd_centroids,
            )
        )

    # warmup
    bench.materialize(all_queries["unique_sessions"](spark, sf_dir))

    walls: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        bench.materialize(all_queries[name](spark, sf_dir))
        walls[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobGroup("idle", "idle")
        print(f"[profile] {name} {walls[name]}s", file=sys.stderr, flush=True)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log (plain file, or the Spark-4 rolling
    # eventlog_v2_<appid>/events_* directory layout) ----
    log_paths: list[str] = []
    for root, _dirs, files in os.walk(evdir):
        for f in sorted(files):
            if f.startswith(app_id) or f.startswith("events_"):
                log_paths.append(os.path.join(root, f))
    assert log_paths, f"no event log for {app_id} in {evdir}"

    job_group: dict[int, str] = {}
    stage_owner: dict[int, str] = {}
    per = {
        n: {"n_jobs": 0, "n_stages": 0, "n_tasks": 0, "task_time_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "input_mb": 0.0, "spill_mb": 0.0}
        for n in names
    }
    def _lines():
        for p in log_paths:
            if p.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["unzstd", "-c", p], capture_output=True, check=True
                )
                yield from out.stdout.decode().splitlines()
            else:
                with open(p) as fh:
                    yield from fh

    for line in _lines():
        if not line.strip():
            continue
        ev = json.loads(line)
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp in per:
                job_group[ev["Job ID"]] = grp
                per[grp]["n_jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_owner[sid] = grp
        elif et == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            grp = stage_owner.get(si["Stage ID"])
            if grp and si.get("Submission Time"):
                per[grp]["n_stages"] += 1
        elif et == "SparkListenerTaskEnd":
            grp = stage_owner.get(ev["Stage ID"])
            if not grp:
                continue
            p = per[grp]
            p["n_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            p["task_time_s"] += (tm.get("Executor Run Time") or 0) / 1e3
            srm = tm.get("Shuffle Read Metrics") or {}
            p["shuffle_read_mb"] += (
                (srm.get("Local Bytes Read") or 0)
                + (srm.get("Remote Bytes Read") or 0)
            ) / 1e6
            swm = tm.get("Shuffle Write Metrics") or {}
            p["shuffle_write_mb"] += (swm.get("Shuffle Bytes Written") or 0) / 1e6
            im = tm.get("Input Metrics") or {}
            p["input_mb"] += (im.get("Bytes Read") or 0) / 1e6
            p["spill_mb"] += (tm.get("Disk Bytes Spilled") or 0) / 1e6

    print(f"{'query':34s} {'wall':>7s} {'jobs':>5s} {'stages':>6s} "
          f"{'tasks':>6s} {'cpu_s':>7s} {'shR_mb':>7s} {'shW_mb':>7s}",
          file=sys.stderr)
    for n in sorted(names, key=lambda x: -walls[x]):
        p = per[n]
        rec = {"query": n, "wall_s": walls[n], **{
            k: (round(v, 2) if isinstance(v, float) else v) for k, v in p.items()
        }}
        print(json.dumps(rec))
        print(f"{n:34s} {walls[n]:7.2f} {p['n_jobs']:5d} {p['n_stages']:6d} "
              f"{p['n_tasks']:6d} {p['task_time_s']:7.1f} "
              f"{p['shuffle_read_mb']:7.1f} {p['shuffle_write_mb']:7.1f}",
              file=sys.stderr)


if __name__ == "__main__":
    main()
