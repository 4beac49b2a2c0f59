"""Workload ``batch_mix``: the canonical riemann pipeline at volume plus
a fixed subset of the query catalog.

(1) A persisted event stream -> ``where`` -> ``default`` -> ``tag`` ->
``analytics.rate`` + ``index.build_index``, drained by two concurrent
noop sinks (JVM shuffle and window work, no Python). (2) Catalog rows
run to the noop sink over several passes: many short jobs plus the
Python/Arrow codec lanes. Rows that read or write cross-run stored
state are left out, since their time depends on what an earlier run
left behind.
"""

from __future__ import annotations

import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from common import Result, median, row_medians, tree_cpu_s

N_EVENTS = 10_000
N_LINEITEM = 10_000
N_DOCS = 100
FANOUT = 20  # pipeline stream = N_EVENTS x FANOUT events
# minimum timed passes; more run while the next is expected to fit in
# --seconds (30% of it for the pipeline, the rest for the catalog). The
# first timed pipeline passes often still run 20-40% slower than later
# ones, so the median is taken over five.
PIPE_PASSES = 5
CATALOG_PASSES = 2
# untimed passes first: the JIT is still warming the pipeline's plans
# in its second pass (measured 1.5-2.0 s against a steady 0.9-1.1 s)
PIPE_WARMUP = 2

ROWS = {
    "monitoring": ["index_latest", "ewma"],
    "relational": ["tpch_q1", "tpch_q21"],
    "python_lanes": [
        "protobuf_roundtrip", "prometheus_rw_roundtrip", "multimodal_jpeg_decode",
    ],
    "text_dedup": ["text_features", "dedup_minhash_lsh"],
}
FAMILY = {row: fam for fam, rows in ROWS.items() for row in rows}


def _expected_pipeline_rows(cols: dict) -> tuple[int, int]:
    """(index rows, hourly rate rows) of the pipeline, from the numpy
    columns: distinct keys and distinct (key, hour) per fan-out copy."""
    key = cols["user_id"] * 8 + np.searchsorted(datagen.EVENT_TYPES, cols["event_type"])
    hour = cols["ts"] // 3_600_000_000
    n_keys = len(np.unique(key))
    n_key_hours = len(np.unique(key * 10_000_000 + hour))
    return n_keys * FANOUT, n_key_hours * FANOUT


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')"
            )
    return con


def run(seed: int, seconds: float, tracer, dirs: dict, res: Result) -> None:
    from sparkenv import start_spark, stop_spark

    t_setup = time.perf_counter()
    d = dirs["data"]
    cols = datagen.write_dataset(d, seed, N_EVENTS, N_LINEITEM, N_DOCS)
    with tracer.span("session.get_spark"):
        spark = start_spark("perfbench-batch")
    try:
        from pyspark.sql import functions as F

        from riemann_spark.operators import analytics, index, stateless
        from riemann_spark.plans import ORACLES, QUERIES
        from riemann_spark.schema import load_events

        with tracer.span("schema.load_events"):
            ev = load_events(spark, d)
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        with tracer.span("operators.pipeline.persist"):
            big = (
                ev.repartition(cpus * 2)
                .withColumn("__c", F.explode(F.array(*[F.lit(i) for i in range(FANOUT)])))
                .withColumn("host", F.concat_ws("-", "host", "__c"))
                .drop("__c")
                .persist()
            )
            big.write.format("noop").mode("overwrite").save()
        piped = stateless.tag(
            stateless.default(stateless.where(big, "metric >= 0"), {"state": "ok"}),
            "bench",
        )
        sinks = {
            "rate_sink": analytics.rate(piped, 3600.0),
            "index_sink": index.build_index(piped),
        }

        def drain(name: str, df, k: int) -> float:
            with tracer.span(f"operators.pipeline.{name}", group=f"pipe{k}"):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - t

        def one_pass(k: int) -> dict[str, float]:
            """Both sinks at once, as riemann fans one stream out to
            every child; ``result()`` re-raises a sink's failure."""
            with tracer.span("operators.pipeline.pass", group=f"pipe{k}"):
                t = time.perf_counter()
                with ThreadPoolExecutor(len(sinks)) as pool:
                    futures = {n: pool.submit(drain, n, df, k) for n, df in sinks.items()}
                times = {n: f.result() for n, f in futures.items()}
                times["pass"] = time.perf_counter() - t
            return times

        for k in range(PIPE_WARMUP):
            one_pass(-1 - k)
        setup_s = time.perf_counter() - t_setup

        # ---------------------------- timed region 1: the pipeline
        cpu0, w0 = tree_cpu_s(), time.perf_counter()
        pipe: list[dict[str, float]] = []
        while len(pipe) < PIPE_PASSES or (
            time.perf_counter() - w0 + pipe[-1]["pass"] <= 0.3 * seconds
        ):
            pipe.append(one_pass(len(pipe)))
        cpu_s, wall_s = tree_cpu_s() - cpu0, time.perf_counter() - w0
        # ---------------------------------------------------------
        n_index = sinks["index_sink"].count()
        n_rate = sinks["rate_sink"].count()
        big.unpersist()

        # the first catalog pass (set-up) warms every plan and keeps each
        # row's result for the oracle comparison made after the timed
        # region; rows run after the pipeline because every row ends with
        # clearCache(), which would drop the pipeline's persisted stream
        t_warm = time.perf_counter()
        results = {}
        for name in FAMILY:
            with tracer.span("plans.warm", group=name):
                results[name] = QUERIES[name](spark, d).toPandas()
            spark.catalog.clearCache()
        setup_s += time.perf_counter() - t_warm

        # ----------------------------- timed region 2: the catalog
        cpu0, w0 = tree_cpu_s(), time.perf_counter()
        budget = seconds - wall_s
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        builds, execs, sched = [], [], {}
        while len(builds) < CATALOG_PASSES or (
            time.perf_counter() - w0 + catalog_pass_s <= budget
        ):
            p, t_pass = len(builds), time.perf_counter()
            b_p, e_p = {}, {}
            for name, fam in FAMILY.items():
                group = f"{name}#{p}"
                if tracer.enabled:
                    sc.setJobGroup(group, name)
                with tracer.span("plans.row", group=group):
                    t = time.perf_counter()
                    with tracer.span("plans.build"):
                        df = QUERIES[name](spark, d)
                    t1 = time.perf_counter()
                    with tracer.span(f"plans.exec.{fam}"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                spark.catalog.clearCache()
                b_p[name], e_p[name] = t1 - t, t2 - t1
                if tracer.enabled:
                    sched[group] = _job_counts(tracker, group)
            builds.append(b_p)
            execs.append(e_p)
            catalog_pass_s = time.perf_counter() - t_pass
        cpu_s += tree_cpu_s() - cpu0
        wall_s += time.perf_counter() - w0
        # ---------------------------------------------------------
    finally:
        stop_spark(spark)

    # ------------------------------------------------------ correctness
    want_index, want_rate = _expected_pipeline_rows(cols)
    res.check(n_index == want_index, f"pipeline index sink: {n_index} rows, want {want_index}")
    res.check(n_rate == want_rate, f"pipeline rate sink: {n_rate} rows, want {want_rate}")
    res.count(len(pipe), 0, "pipeline passes")
    from tools.check import compare

    con = _duck(d)
    for name, pdf in results.items():
        problems = compare(name, pdf, con.execute(ORACLES[name]).df())
        res.check(not problems, f"{name}: {problems[:2]}")
    res.count(len(builds) * len(FAMILY), 0, "timed catalog rows")

    # ---------------------------------------------------------- metrics
    row_s = row_medians([{n: b[n] + e[n] for n in b} for b, e in zip(builds, execs)])
    n_pipe = N_EVENTS * FANOUT
    pass_s = median([p["pass"] for p in pipe])
    catalog_total = sum(row_s.values())
    res.e2e("setup_s", setup_s)
    res.e2e("events_per_s", n_pipe / pass_s)
    # geometric mean over rows: every row counts, each in proportion, so
    # it does not jump when two rows swap rank as a median across rows does
    row_geomean_s = math.exp(sum(math.log(v) for v in row_s.values()) / len(row_s))
    res.e2e("latency_ms", row_geomean_s * 1e3)
    res.e2e("finish_s", catalog_total)
    res.detail.update(
        {
            "pipeline_events_per_s": n_pipe / pass_s,
            "pipeline_pass_s": [p["pass"] for p in pipe],
            "catalog_total_s": catalog_total,
            "catalog_row_geomean_ms": row_geomean_s * 1e3,
            "row_s": row_s,
        }
    )
    res.layer("process.cpu_s", cpu_s)
    res.layer("process.wall_s", wall_s)
    res.layer("operators.pipeline.rate_sink_s", median([p["rate_sink"] for p in pipe]))
    res.layer("operators.pipeline.index_sink_s", median([p["index_sink"] for p in pipe]))
    res.layer("plans.build_s", sum(row_medians(builds).values()))
    exec_med = row_medians(execs)
    for fam, rows in ROWS.items():
        res.layer(f"plans.exec_s.{fam}", sum(exec_med[r] for r in rows))
    if sched:
        for i, what in enumerate(("jobs", "stages", "tasks")):
            res.layer(
                f"plans.{what}",
                sum(median([sched[f"{n}#{p}"][i] for p in range(len(builds))]) for n in FAMILY),
            )


def _job_counts(tracker, group: str) -> tuple[int, int, int]:
    """Jobs, stages and tasks the row's job group ran."""
    jobs = stages = tasks = 0
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is not None and st.numCompletedTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return jobs, stages, tasks
