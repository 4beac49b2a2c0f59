"""Workload ``stream_index``: time-ordered slices of an events table
land as parquet files, one per micro-batch, closed loop: the next slice
lands when all three queries have committed the previous one, so the
drain rate is the sustainable rate.

Timed slices come in pairs: a large slice, whose per-event keyed-state
work is a large share of its time, gives the throughput; a small slice
gives the latency of a micro-batch that is mostly per-batch overhead.

Three queries share the file source: ``streaming_index`` (watermark +
TTL reaper timers), ``streaming_ewma`` (per-event keyed fold) and
``streaming_rate`` (a JVM-only windowed aggregate, the control).
Layers loaded: ``streaming.state_api`` / applyInPandasWithState, the
state store and micro-batch scheduling. The wire edge and ``query``
are idle.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq

import datagen
from common import Result, median, tree_cpu_s

N_EVENTS = 100_000  # the table the slices are cut from (a prefix is used)
# Measured on 4 cores: a slice costs a per-micro-batch floor of 6-8 s
# plus about 3.5 ms an event, so about half of a 2,000-event slice is
# per-event work. Bigger slices would show it more but would not fit
# the run budget (22 runs of each workload within the hour).
FIRST_SLICE = 100  # the freshly started stream's first micro-batch
BIG_SLICE = 2_000  # events per throughput slice
SMALL_SLICE = 100  # events per latency slice
MIN_PAIRS = 1  # then more while the next pair is expected to fit in --seconds
QUERIES = ("index", "ewma", "rate")


def _progress(q, after: str = "") -> list[dict]:
    """The query's micro-batch reports stamped after ``after``. Idle
    reports, which Spark posts every 10 s without data and which repeat
    the next batch's id, have no ``addBatch`` and are left out."""
    reports = (json.loads(x.json) for x in q.recentProgress)
    return [p for p in reports if p["timestamp"] > after and "addBatch" in p["durationMs"]]


def _slice_layers(batches: list[dict]) -> dict:
    """One slice's numbers for one query, from its progress reports."""
    dur = lambda k: sum(b["durationMs"].get(k, 0) for b in batches)  # noqa: E731
    ops = [op for b in batches for op in b.get("stateOperators", ())]
    st = lambda k: sum(op.get(k, 0) for op in ops)  # noqa: E731
    return {
        "slice_s": dur("triggerExecution") / 1e3,
        "add_batch_ms": dur("addBatch"),
        "query_planning_ms": dur("queryPlanning"),
        "latest_offset_ms": dur("latestOffset"),
        "wal_commit_ms": dur("walCommit"),
        "commit_offsets_ms": dur("commitOffsets"),
        "triggers_per_slice": len(batches),
        "state_rows_updated": st("numRowsUpdated"),
        "state_commit_ms": st("commitTimeMs"),
        "state_updates_ms": st("allUpdatesTimeMs"),
        "rows_dropped_by_watermark": st("numRowsDroppedByWatermark"),
    }


def run(seed: int, seconds: float, tracer, dirs: dict, res: Result) -> None:
    from sparkenv import start_spark, stop_spark

    t_setup = time.perf_counter()
    cols = datagen.event_columns(seed, N_EVENTS)
    src = os.path.join(dirs["data"], "src")
    os.makedirs(src)
    landed = 0

    def land(n: int) -> None:
        """Land the next ``n`` events as one parquet file."""
        nonlocal landed
        name = f"slice{landed:07d}.parquet"
        tmp = os.path.join(dirs["tmp"], name)
        pq.write_table(datagen.events_table(cols, landed, landed + n), tmp)
        os.rename(tmp, os.path.join(src, name))
        landed += n

    with tracer.span("session.get_spark"):
        spark = start_spark("perfbench-stream")
    try:
        from riemann_spark.schema import normalize_events, normalize_ts
        from riemann_spark.streaming import streaming_index
        from riemann_spark.streaming.ops import streaming_rate
        from riemann_spark.streaming.stateful_ops import streaming_ewma

        land(FIRST_SLICE)
        with tracer.span("schema.load_events"):
            schema = spark.read.parquet(src).schema
            raw = spark.readStream.schema(schema).parquet(src)
            events = normalize_events(normalize_ts(raw, "ts"))
        frames = {
            "index": streaming_index(events),
            "ewma": streaming_ewma(events, 60.0),
            "rate": streaming_rate(events, 60.0),
        }
        queries = {
            name: df.writeStream.format("memory")
            .queryName(f"perfbench_{name}")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(dirs["ckpt"], name))
            .start()
            for name, df in frames.items()
        }
        setup_s = time.perf_counter() - t_setup

        # first slice: a freshly started stream's time to its first commit
        t = time.perf_counter()
        with tracer.span("streaming.slice", group="slice0"):
            for name, q in queries.items():
                with tracer.span(f"streaming.{name}.process"):
                    q.processAllAvailable()
        first_s = time.perf_counter() - t
        last_report = {n: max((p["timestamp"] for p in _progress(q)), default="") for n, q in queries.items()}

        def one_slice(n: int, k: int) -> tuple[float, dict[str, dict]]:
            """Land ``n`` events and wait until every query committed
            them: the seconds that took, and each query's numbers."""
            with tracer.span("streaming.slice", group=f"slice{k}"):
                t = time.perf_counter()
                land(n)
                for name, q in queries.items():
                    with tracer.span(f"streaming.{name}.process"):
                        q.processAllAvailable()
                took = time.perf_counter() - t
            layers = {}
            for name, q in queries.items():
                batches = _progress(q, last_report[name])
                if batches:
                    last_report[name] = batches[-1]["timestamp"]
                layers[name] = _slice_layers(batches)
            return took, layers

        # -------------------------------------------- timed region
        cpu0, w0 = tree_cpu_s(), time.perf_counter()
        big_s: list[float] = []
        small_s: list[float] = []
        per_query: dict[str, list[dict]] = {n: [] for n in queries}  # big slices
        while landed + BIG_SLICE + SMALL_SLICE <= N_EVENTS and (
            len(big_s) < MIN_PAIRS
            or time.perf_counter() - w0 + big_s[-1] + small_s[-1] <= seconds
        ):
            took, layers = one_slice(BIG_SLICE, 2 * len(big_s) + 1)
            big_s.append(took)
            for name, row in layers.items():
                per_query[name].append(row)
            small_s.append(one_slice(SMALL_SLICE, 2 * len(small_s) + 2)[0])
        cpu_s, wall_s = tree_cpu_s() - cpu0, time.perf_counter() - w0
        # ---------------------------------------------------------

        finals = {n: json.loads(q.lastProgress.json) for n, q in queries.items()}
        all_input = {
            n: sum(p["numInputRows"] for p in _progress(q)) for n, q in queries.items()
        }
        for name, q in queries.items():
            q.stop()
            res.check(q.exception() is None, f"query {name} failed: {q.exception()}")

        # ------------------------------------------------ correctness
        from pyspark.sql import functions as F

        from riemann_spark.operators import index

        for name in queries:
            res.check(
                all_input[name] == landed,
                f"{name}: numInputRows {all_input[name]} != {landed} landed",
            )
        n_ewma = spark.table("perfbench_ewma").count()
        res.check(n_ewma == landed, f"ewma emitted {n_ewma} rows for {landed} events")
        out = spark.table("perfbench_index")
        expired_rows = out.filter(F.col("state") == "expired").count()
        emitted = {}
        for r in out.filter(F.col("state") != "expired").select(
            "host", "service", "state", "metric", "time"
        ).collect():
            key = (r.host, r.service)
            if key not in emitted or r.time >= emitted[key][2]:
                emitted[key] = (r.state, r.metric, r.time)
        batch = index.build_index(normalize_events(normalize_ts(spark.read.parquet(src), "ts")))
        want = {
            (r.host, r.service): (r.state, r.metric, r.time)
            for r in batch.select("host", "service", "state", "metric", "time").collect()
        }
        wrong = sum(1 for kk, v in want.items() if emitted.get(kk) != v)
        wrong += len(set(emitted) - set(want))
        res.count(len(want), wrong, f"stream index: {wrong} keys differ from build_index")
    finally:
        stop_spark(spark)

    # ---------------------------------------------------------- metrics
    events_per_s = BIG_SLICE * len(big_s) / sum(big_s)
    res.e2e("setup_s", setup_s)
    res.e2e("events_per_s", events_per_s)
    res.e2e("latency_ms", median(small_s) * 1e3)
    res.e2e("finish_s", first_s)
    res.detail.update(
        {
            "stream_events_per_s": events_per_s,
            "stream_slice_p50_s": median(small_s),
            "big_slice_events": BIG_SLICE,
            "big_slice_s": big_s,
            "small_slice_events": SMALL_SLICE,
            "small_slice_s": small_s,
            "first_slice_s": first_s,
        }
    )
    res.layer("process.cpu_s", cpu_s)
    res.layer("process.wall_s", wall_s)
    res.layer("streaming.slices", len(big_s) + len(small_s))
    res.layer("streaming.index.expired_rows", expired_rows)
    for name in QUERIES:
        rows = per_query[name]
        for f in rows[0]:
            res.layer(f"streaming.{name}.{f}", median([r[f] for r in rows]))
        ops = finals[name].get("stateOperators", ())
        res.layer(f"streaming.{name}.state_rows_total", sum(o.get("numRowsTotal", 0) for o in ops))
        res.layer(f"streaming.{name}.state_memory_bytes", sum(o.get("memoryUsedBytes", 0) for o in ops))
