"""Workload ``ingest_query``: events pushed over TCP and acked, index
queries answered beside the writes, then the spool lifted into a new
index snapshot.

Layers loaded: the wire codec (``sources.protobuf``), the server
(``sources.servers``), the query language (``query``) and index serving
(``operators.index``). The Python stateful-streaming layer is idle.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np

import datagen
from common import ROOT, Result, median, percentile, tree_cpu_s

N_EVENTS = 100_000  # sf0.1-sized events table: all 7,500 keys indexed
PHASE_A_SHARE = 0.5  # of --seconds
# Phase B sends a fixed number of frames: about 30% of --seconds at the
# ~100,000 events/s a 4-core VM saturates at. Fixed work keeps the
# spool, and so the lift that finish_s times, the same size whatever the
# server's speed.
PHASE_B_EVENTS_PER_S = 100_000.0
PHASE_B_SHARE = 0.3
COLS = ["host", "service", "state", "description", "metric", "tags", "time", "ttl"]


def query_corpus(seed: int) -> list[str]:
    """Point, service, tagged, like, numeric range and not/or queries,
    each answering tens to hundreds of keys. The seed picks only the
    hosts of the point lookups, so every seed asks for replies of the
    same shape and about the same size."""
    r = datagen.rng_for(seed, "corpus")
    h = [str(int(x)) for x in r.integers(0, datagen.N_USERS, 4)]
    return [
        f'host = "{h[0]}" and service = "click"',
        f'host = "{h[1]}" and service = "purchase"',
        'service = "error" and metric > 140',
        'tagged "high"',
        'host =~ "149%"',
        "metric > 100 and metric <= 120",
        'not (state = "ok") and service = "view"',
        f'host = "{h[2]}" or host = "{h[3]}"',
    ]


def _start_generator(port: int, seed: int, seconds: float, after_us: int, qpath: str):
    b_frames = int(PHASE_B_EVENTS_PER_S * PHASE_B_SHARE * seconds / datagen.PER_FRAME)
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "loadgen.py"),
        "--port", str(port), "--seed", str(seed),
        "--phase-a-s", str(seconds * PHASE_A_SHARE), "--b-frames", str(b_frames),
        "--after-us", str(after_us), "--queries", qpath,
    ]
    return subprocess.Popen(
        cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )


def _oracle_index(snapshot_rows: list[dict], seed: int, n_sent: int, after_us: int) -> dict:
    """Latest event per key of the snapshot plus the sent events, in
    plain Python/numpy (sent times are strictly increasing, so the last
    sent event of a key wins)."""
    latest = {
        (r["host"], r["service"]): (r["time"], r["metric"], r["state"])
        for r in snapshot_rows
    }
    cols = datagen.wire_columns(seed, n_sent, after_us)
    key = cols["host"] * 8 + cols["service"]
    _, last_rev = np.unique(key[::-1], return_index=True)
    for i in (n_sent - 1 - last_rev):
        e = datagen.wire_event(cols, int(i))
        latest[(e["host"], e["service"])] = (e["time_us"] / 1e6, e["metric"], e["state"])
    return latest


def run(seed: int, seconds: float, tracer, dirs: dict, res: Result) -> None:
    from riemann_spark.operators import index
    from riemann_spark.query import parse, to_column, to_predicate
    from riemann_spark.schema import load_events
    from riemann_spark.sources.servers import TcpMsgServer

    from loadgen import reply_digest
    from sparkenv import start_spark, stop_spark

    t_setup = time.perf_counter()
    ev_cols = datagen.write_dataset(dirs["data"], seed, N_EVENTS)
    after_us = int(ev_cols["ts"][-1])
    corpus = query_corpus(seed)
    qpath = os.path.join(dirs["tmp"], "queries.json")
    with open(qpath, "w") as fh:
        json.dump(corpus, fh)

    state: dict = {"snap": None, "n": 0}

    def handle(q: str) -> list[dict]:
        state["n"] += 1
        with tracer.span("query.request", group=f"q{state['n']}"):
            with tracer.span("query.parse"):
                ast = parse(q)
            with tracer.span("query.to_column"):
                col = to_column(ast)
            with tracer.span("operators.index.search"):
                df = index.search(state["snap"], col)
            with tracer.span("operators.index.collect"):
                rows = df.collect()
        return [r.asDict() for r in rows]

    server = TcpMsgServer(query_handler=handle)
    server.__enter__()
    gen = _start_generator(server.port, seed, seconds, after_us, qpath)
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = start_spark("perfbench-ingest")
        with tracer.span("schema.load_events"):
            ev = load_events(spark, dirs["data"])
        with tracer.span("operators.index.build_index"):
            snap = index.build_index(ev).select(*COLS).persist()
            n_keys = snap.count()
        state["snap"] = snap
        snapshot_rows = [r.asDict() for r in snap.collect()]
        for q in corpus * 2:  # warm the query path (codegen, JIT, py4j)
            handle(q)
        state["n"] = 0
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to start")
        res.detail["snapshot_keys"] = n_keys
        setup_s = time.perf_counter() - t_setup

        # -------------------------------------------- timed region
        cpu0, w0 = tree_cpu_s(), time.perf_counter()
        gen.stdin.write("go\n")
        gen.stdin.flush()
        out, _ = gen.communicate(timeout=seconds * 4 + 60)
        rep = json.loads(out.strip().splitlines()[-1])
        t_last_ack = rep["last_ack"]
        with tracer.span("ingest.visible"):
            with tracer.span("sources.protobuf.lift"):
                t_lift = time.perf_counter()
                lifted = server.received_events(spark).select(*COLS).persist()
                n_lifted = lifted.count()
                lift_s = time.perf_counter() - t_lift
            with tracer.span("operators.index.build_index"):
                t_build = time.perf_counter()
                new_snap = index.build_index(snap.unionByName(lifted)).persist()
                new_snap.count()
                build_s = time.perf_counter() - t_build
            state["snap"] = new_snap
        visible_s = time.time() - t_last_ack
        cpu_s, wall_s = tree_cpu_s() - cpu0, time.perf_counter() - w0
        # ---------------------------------------------------------

        frames_spooled = len(server.frames)
        new_rows = new_snap.select("host", "service", "time", "metric", "state").collect()
        if tracer.enabled:
            _micro_layers(seed, corpus, after_us, res)
    finally:
        server.__exit__(None, None, None)
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        if spark is not None:
            stop_spark(spark)

    # ------------------------------------------------------ correctness
    sent_frames = rep["frames_sent"]
    res.check(
        rep["frames_acked"] == sent_frames and rep["acks_not_ok"] == 0,
        f"acks: {rep['frames_acked']} acked ({rep['acks_not_ok']} not ok) of {sent_frames} sent",
        n=sent_frames,
    )
    res.check(
        frames_spooled == rep["frames_acked"],
        f"spool holds {frames_spooled} frames, {rep['frames_acked']} acked",
    )
    expected = []
    for q in corpus:
        pred = to_predicate(parse(q))
        expected.append(reply_digest([r for r in snapshot_rows if pred(r)]))
    bad_q = [q for q in rep["queries"] if not q[2] or q[4] != expected[q[0]]]
    res.count(
        len(rep["queries"]), len(bad_q),
        f"{len(bad_q)} query replies differ from to_predicate over the snapshot",
    )
    want = _oracle_index(snapshot_rows, seed, sent_frames * datagen.PER_FRAME, after_us)
    got = {(r.host, r.service): (r.time, r.metric, r.state) for r in new_rows}
    wrong = sum(1 for k, v in want.items() if got.get(k) != v) + len(set(got) - set(want))
    res.count(len(want), wrong, f"lifted index: {wrong} keys differ from the Python oracle")

    # ---------------------------------------------------------- metrics
    q_ms = [q[1] for q in rep["queries"]]
    res.e2e("setup_s", setup_s)
    res.e2e("events_per_s", rep["b_events_per_s"])
    res.e2e("latency_ms", median(q_ms))
    res.e2e("finish_s", visible_s)
    res.detail.update(
        {
            "ingest_events_per_s": rep["b_events_per_s"],
            "ingest_ack_p50_ms": median(rep["ack_ms"]),
            "ingest_ack_p99_ms": percentile(rep["ack_ms"], 99),
            "query_p50_ms": median(q_ms),
            "query_p99_ms": percentile(q_ms, 99),
            "ingest_visible_s": visible_s,
            "queries": len(q_ms),
            "frames": sent_frames,
            "phase_a_rate": datagen.RATE,
        }
    )
    res.layer("process.cpu_s", cpu_s)
    res.layer("process.wall_s", wall_s)
    res.layer("sources.protobuf.lift_events_per_s", n_lifted / lift_s)
    res.layer("operators.index.build_index_s", build_s)
    res.layer("sources.servers.frames_sent", sent_frames)
    res.layer("sources.servers.frames_acked", rep["frames_acked"])
    res.layer("sources.servers.frames_spooled", frames_spooled)
    res.layer("sources.servers.ack_p50_ms", median(rep["ack_ms"]))
    res.layer("sources.servers.ack_p99_ms", percentile(rep["ack_ms"], 99))
    res.layer("generator.lag_p99_ms", percentile(rep["lag_ms"], 99))
    res.layer("query.requests", len(q_ms))
    res.layer("query.reply_events", sum(q[3] for q in rep["queries"]) / max(len(q_ms), 1))


def _micro_layers(seed, corpus, after_us, res: Result) -> None:
    """Per-call costs measured outside the timed region: decode of the
    same frames the generator sends, cold parse, to_column."""
    from riemann_spark.query import parse, to_column
    from riemann_spark.sources.protobuf import decode_msg

    from loadgen import build_frames

    frames = build_frames(seed, 20, datagen.PER_FRAME, after_us)
    t = time.perf_counter()
    for f in frames:
        decode_msg(f)
    res.layer(
        "sources.protobuf.decode_us_per_event",
        (time.perf_counter() - t) / (len(frames) * datagen.PER_FRAME) * 1e6,
    )
    parse_us, col_us = [], []
    for _ in range(5):
        for q in corpus:
            parse.cache_clear()
            t = time.perf_counter()
            ast = parse(q)
            t1 = time.perf_counter()
            to_column(ast)
            t2 = time.perf_counter()
            parse_us.append((t1 - t) * 1e6)
            col_us.append((t2 - t1) * 1e6)
    res.layer("query.parse_us", median(parse_us))
    res.layer("query.to_column_us", median(col_us))
