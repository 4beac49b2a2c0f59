"""Self-tests for the benchmark: statistics and span helpers, the load
generator's encoder, and a tiny smoke run of each workload.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from common import (  # noqa: E402
    ROOT,
    Result,
    Span,
    Tracer,
    median,
    percentile,
    row_medians,
    self_times,
)
from run import metric_units  # noqa: E402


# ------------------------------------------------------------ statistics --

@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(q):
    xs = list(np.random.default_rng(1).exponential(3.0, 37))
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_median_and_row_medians():
    assert median([3.0]) == 3.0
    assert median([4.0, 1.0]) == 2.5
    passes = [{"a": 1.0, "b": 9.0}, {"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 5.0}]
    assert row_medians(passes) == {"a": 2.0, "b": 5.0}
    with pytest.raises(ValueError):
        percentile([], 50)


def test_result_counts_failures():
    r = Result()
    r.check(True, "fine", n=10)
    r.check(False, "broken")
    r.count(5, 2, "two of five")
    assert (r.attempted, r.failed) == (16, 3)
    assert r.problems == ["broken", "two of five"]


# ------------------------------------------------------------------ spans --

def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "root", 0.0, 10.0, None, "g"),
        Span(2, "a", 1.0, 4.0, 1, "g"),
        Span(3, "b", 3.0, 5.0, 1, "g"),  # overlaps a: union is 1..5
        Span(4, "c", 8.0, 12.0, 1, "g"),  # clipped to the parent: 8..10
        Span(5, "d", 1.5, 2.0, 2, "g"),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx(3.0 - 0.5)
    assert st["b"] == pytest.approx(2.0)
    assert st["d"] == pytest.approx(0.5)


def test_tracer_records_parent_and_group():
    t = Tracer(True)
    with t.span("outer", group="req1"):
        with t.span("inner"):
            pass
    inner, outer = t.spans
    assert inner.parent == outer.sid and inner.group == "req1"
    assert outer.parent is None and outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


# ----------------------------------------------------------- generator --

def test_generator_encoder_matches_engine_codec():
    sys.path.insert(0, ROOT)
    from riemann_spark.sources.protobuf import decode_msg, encode_msg

    from loadgen import build_frames

    cols = datagen.wire_columns(7, 300, 1_800_000_000_000_000)
    frames = build_frames(7, 3, 100, 1_800_000_000_000_000)
    for k, frame in enumerate(frames):
        events = [datagen.wire_event(cols, i) for i in range(k * 100, k * 100 + 100)]
        assert frame == encode_msg(events)
        back = decode_msg(frame)["events"]
        assert [e["time_us"] for e in back] == [e["time_us"] for e in events]


def test_inputs_are_seeded_and_prefix_stable():
    a, b = datagen.wire_columns(3, 2500, 0), datagen.wire_columns(3, 1200, 0)
    for k in a:
        assert np.array_equal(a[k][:1200], b[k])
    assert not np.array_equal(datagen.wire_columns(4, 1200, 0)["host"], b["host"])
    ev = datagen.event_columns(9, 5000)
    assert np.all(np.diff(ev["ts"]) > 0)
    assert np.array_equal(ev["value"], datagen.event_columns(9, 5000)["value"])


# ------------------------------------------------------------------ smoke --

_SMOKE = {
    "ingest_query": {"N_EVENTS": 2000},
    "stream_index": {"N_EVENTS": 1000, "FIRST_SLICE": 100, "BIG_SLICE": 300, "SMALL_SLICE": 100},
    "batch_mix": {"N_EVENTS": 1000, "N_LINEITEM": 2000, "N_DOCS": 30, "FANOUT": 2},
}


@pytest.mark.parametrize("workload", sorted(_SMOKE))
def test_workload_smoke(workload):
    """The whole run path on sf0.001-sized inputs (the generator keeps
    its real rate): correct, and the traced line carries every per-layer
    metric BENCHMARK.json lists."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {HERE!r})
        import {workload} as w
        for k, v in {_SMOKE[workload]!r}.items():
            setattr(w, k, v)
        import run
        sys.argv = ["run.py", "--workload", {workload!r}, "--seed", "1",
                    "--seconds", "2", "--trace", "1"]
        sys.exit(run.main())
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    assert set(last["metrics"]) == set(metric_units()[1])
