"""Keyed-fold harness contracts (streaming/stateful_ops._keyed_fold):

- STATE_TABLE agrees with the state schema, timeout mode and keys every
  operator actually registers;
- every fold is invariant under micro-batch split points and under
  delivery of a chunk as several shuffled pandas frames (same emission
  multiset, same final state), null cells included;
- a null time keeps the reading a NaN time has in the timer and
  global operators (never newer, never ages, never arms a timer);
- drained folds agree with their batch twins.

The streaming side drives the REAL update closures in pure Python,
captured through state_api._capture_hook; only the batch twins run
Spark jobs.
"""

from __future__ import annotations

import hashlib
import math
import random
from collections import Counter

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from riemann_spark.operators import analytics, windows
from riemann_spark.streaming import state_api
from riemann_spark.streaming import stateful_ops as so
from riemann_spark.streaming.index_stream import streaming_index
from riemann_spark.streaming.state_api import STATE_TABLE
from tests.test_state_api import _FakeLegacyState, _FakeSdf, _state_table_cases


def _capture(build) -> dict:
    """Run an operator builder and return what it registered with
    apply_with_state (keys, update closure, state schema, timeout)."""
    cap: dict = {}

    def hook(keys, update, out_schema, state_schema, timeout):
        cap.update(keys=tuple(keys), update=update,
                   state_schema=state_schema, timeout=timeout)

    prev = state_api._capture_hook
    state_api._capture_hook = hook
    try:
        build()
    finally:
        state_api._capture_hook = prev
    return cap


# ------------------------------------------------ STATE_TABLE drift --

_TIMEOUT_MODE = {
    GroupStateTimeout.NoTimeout: "none",
    GroupStateTimeout.ProcessingTimeTimeout: "processing-time",
    GroupStateTimeout.EventTimeTimeout: "event-time",
}


def _declared_fields(state: str) -> list[str]:
    decl = state.split("#")[0].strip()
    assert decl.startswith("(") and decl.endswith(")"), state
    return [field.split()[0] for field in decl[1:-1].split(",")]


@pytest.mark.parametrize("op", sorted(STATE_TABLE))
def test_state_table_matches_registered_state(spark, op):
    builds = {name: case[0] for name, case in _state_table_cases().items()}
    builds["index_stream (expire reaper)"] = lambda: streaming_index(_FakeSdf())
    cap = _capture(builds[op])
    row = STATE_TABLE[op]
    assert _declared_fields(row["state"]) == cap["state_schema"].fieldNames()
    assert row["timeout"].split()[0] == _TIMEOUT_MODE[cap["timeout"]]
    assert tuple(row["keys"]) == cap["keys"]


# ------------------------------------------- split-point invariance --

def _rows_of(df: pd.DataFrame) -> list[tuple]:
    return [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in row)
        for row in df.astype(object).itertuples(index=False, name=None)
    ]


def _run(update, keys, cols, chunks, rng=None):
    """Feed ``chunks`` (lists of row dicts) as micro-batches: per chunk
    one invocation per key, the key's rows as one ordered frame — or,
    with ``rng``, shuffled and cut into several frames. Returns the
    emission multiset and the final state per key."""
    states: dict = {}
    out: Counter = Counter()
    for chunk in chunks:
        groups: dict = {}
        for r in chunk:
            groups.setdefault(tuple(r[k] for k in keys), []).append(r)
        for key, rows in groups.items():
            parts = [rows]
            if rng is not None:
                rows = rng.sample(rows, len(rows))
                k = min(len(rows) - 1, rng.randint(0, 2))
                cuts = sorted(rng.sample(range(1, len(rows)), k)) + [len(rows)]
                parts = [rows[a:b] for a, b in zip([0, *cuts], cuts)]
            frames = [pd.DataFrame(p, columns=list(cols)) for p in parts]
            state = states.setdefault(key, _FakeLegacyState())
            for df in update(key, iter(frames), state):
                out.update(_rows_of(df))
    return out, {k: s._v for k, s in states.items()}


_T = st.one_of(st.none(), st.integers(-4, 24).map(lambda i: i * 0.5))
_M = st.one_of(st.none(), st.integers(-20, 20).map(lambda i: i / 4))
_STATE = st.sampled_from(["ok", "warning", "critical", None])


def _events(**fields):
    return st.lists(st.fixed_dictionaries(
        {"host": st.sampled_from(["a", "b"]), "service": st.just("s"), **fields}
    ), max_size=24)


def _docs(key, **fields):
    return st.lists(st.fixed_dictionaries({key: st.sampled_from([0, 1]), **fields}),
                    max_size=24)


def _with_time_us(rows):
    for r in rows:
        r["time_us"] = None if r["time"] is None else int(r["time"] * 1e6)
    return rows


def _with_md5(rows):
    for r in rows:
        r["h"] = hashlib.md5(r["url"].encode()).hexdigest()
    return rows


# op -> (builder, input columns, fixture strategy, fixup)
_FOLDS = {
    "streaming_ewma": (
        lambda s: so.streaming_ewma(s, 2.0), ("event_id", "time", "metric"),
        _events(time=_T, metric=_M), None,
    ),
    "streaming_moving_event_window": (
        lambda s: so.streaming_moving_event_window(s, 3),
        ("event_id", "time", "metric"), _events(time=_T, metric=_M), None,
    ),
    "streaming_moving_time_window": (
        lambda s: so.streaming_moving_time_window(s, 2.0),
        ("event_id", "time", "metric"), _events(time=_T, metric=_M), None,
    ),
    "streaming_fixed_event_window": (
        lambda s: so.streaming_fixed_event_window(s, 3),
        ("event_id", "time", "metric"), _events(time=_T, metric=_M), None,
    ),
    # a null time has no throttle window (floor(None / dt) raises)
    "streaming_throttle": (
        lambda s: so.streaming_throttle(s, 2, 3.0), ("event_id", "time", "metric"),
        _events(time=_T.filter(lambda t: t is not None), metric=_M), None,
    ),
    "streaming_changed": (
        lambda s: so.streaming_changed(s), ("event_id", "time", "metric", "state"),
        _events(time=_T, metric=_M, state=_STATE), None,
    ),
    "streaming_anomaly_zscore": (
        lambda s: so.streaming_anomaly_zscore(s, n_window=4, min_prior=2,
                                              threshold=0.5),
        ("event_id", "time", "metric"), _events(time=_T, metric=_M), None,
    ),
    "streaming_scd2": (
        lambda s: so.streaming_scd2(s), ("event_id", "time", "time_us", "state"),
        _events(time=_T, state=_STATE), _with_time_us,
    ),
    "streaming_funnel": (
        lambda s: so.streaming_funnel(s, window_s=3.0),
        ("event_id", "time", "service"),
        st.lists(st.fixed_dictionaries({
            "host": st.sampled_from(["u1", "u2"]), "time": _T,
            "service": st.sampled_from(["view", "click", "purchase", "x", None]),
        }), max_size=24),
        None,
    ),
    "streaming_cusum": (
        lambda s: so.streaming_cusum(s, k_sigma=0.25, h_sigma=1.0),
        ("event_id", "time", "metric", "mu", "sd"),
        _events(time=_T, metric=_M, mu=st.sampled_from([None, 0.0, 1.5]),
                sd=st.sampled_from([None, 0.5, 1.0])),
        None,
    ),
    # hourly windows need hour-spanning times; time_us must be present
    "streaming_retrain_trigger": (
        lambda s: so.streaming_retrain_trigger(s, m_windows=2),
        ("event_id", "time", "time_us", "metric", "mu", "sd"),
        _events(time=st.integers(0, 12).map(lambda i: i * 1800.0), metric=_M,
                mu=st.sampled_from([None, 0.0]), sd=st.sampled_from([None, 1.0])),
        _with_time_us,
    ),
    "streaming_token_budget": (
        lambda s: so.streaming_token_budget(s, 30), ("doc_id", "n_tok"),
        _docs("part", n_tok=st.integers(0, 9)), None,
    ),
    "streaming_url_gate": (
        lambda s: so.streaming_url_gate(s), ("doc_id", "url", "h"),
        _docs("shard", url=st.sampled_from(["a.com/1", "a.com/2", "b.org/", "c.net/x"])),
        _with_md5,
    ),
    "streaming_dedup_minhash": (
        lambda s: so.streaming_dedup_minhash(s), ("doc_id",),
        _docs("band", doc_id=st.just(0)), None,
    ),
}


def _ordered(rows: list[dict]) -> list[dict]:
    """Number the rows and put them in the fold's own row order (null
    times last; doc_id order for rows without a time), the order a
    single invocation would fold them in."""
    for i, r in enumerate(rows):
        r.setdefault("event_id", i)
        if "time" not in r:
            r["doc_id"] = i
    return sorted(rows, key=lambda r: (r.get("time") is None,
                                       r.get("time") or 0.0, r["event_id"]))


@pytest.mark.parametrize("op", sorted(_FOLDS))
def test_fold_is_split_point_invariant(spark, op):
    build, cols, fixtures, fixup = _FOLDS[op]
    cap = _capture(lambda: build(_FakeSdf()))
    update, keys = cap["update"], cap["keys"]

    @settings(max_examples=40, deadline=None)
    @given(rows=fixtures, data=st.data())
    def prop(rows, data):
        rows = _ordered(fixup(rows) if fixup else rows)
        cuts = sorted(set(data.draw(st.lists(st.integers(0, len(rows)), max_size=5))))
        chunks = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
        rng = random.Random(data.draw(st.integers(0, 2**32 - 1)))
        whole = _run(update, keys, cols, [rows])
        assert _run(update, keys, cols, chunks) == whole
        assert _run(update, keys, cols, chunks, rng) == whole

    prop()


def test_index_state_is_split_point_invariant(spark):
    """The index emits the key's latest event once per invocation, so
    only its final state is split-point invariant; null-time events
    (never ordered, never expired) are skipped on every path."""
    cap = _capture(lambda: streaming_index(_FakeSdf()))
    update, keys = cap["update"], cap["keys"]
    cols = ("event_id", "time", "metric", "state", "ttl")

    @settings(max_examples=40, deadline=None)
    @given(rows=_events(time=_T, metric=_M,
                        state=st.sampled_from(["ok", "expired", None]),
                        ttl=st.sampled_from([None, 5.0])),
           data=st.data())
    def prop(rows, data):
        rows = _ordered(rows)
        cuts = sorted(set(data.draw(st.lists(st.integers(0, len(rows)), max_size=5))))
        chunks = [rows[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
        rng = random.Random(data.draw(st.integers(0, 2**32 - 1)))
        _, whole = _run(update, keys, cols, [rows])
        assert _run(update, keys, cols, chunks)[1] == whole
        assert _run(update, keys, cols, chunks, rng)[1] == whole

    prop()


# -------------------------------------------- null times, timers --
#
# Spark hands a double column to pandas as float64, so a null time
# arrives as NaN. A NaN time compares false and poisons arithmetic
# instead of raising; the harness decodes it to None and every
# operator keeps that reading: a null time is never newer, never ages
# a buffer and never arms a timer.

def _drive(build, cols, steps, key=("a", "s")):
    """Drive one key through ``steps``: a list of frames (row tuples in
    ``cols`` order, times as float64 the way Spark delivers them) is a
    data invocation, an int a timer fire at that clock (ms). Returns
    the emissions per step and the final state."""
    cap = _capture(lambda: build(_FakeSdf()))
    state, out = _FakeLegacyState(), []
    for step in steps:
        state.hasTimedOut = isinstance(step, int)
        if state.hasTimedOut:
            state._now, frames = step, []
        else:
            frames = [pd.DataFrame(f, columns=list(cols)).astype(
                {c: "float64" for c in ("time", "metric", "ttl") if c in cols})
                for f in step]
        out.append([r for df in cap["update"](key, iter(frames), state)
                     for r in _rows_of(df)])
    return out, state._v


_NAN = float("nan")


def test_coalesce_null_time_is_never_newer(spark):
    cols = ("event_id", "time", "metric", "state")
    out, s = _drive(lambda x: so.streaming_coalesce(x, 2.0), cols, [
        [[(0, 1.0, 1.0, "ok")], [(1, _NAN, 2.0, "warning")]],
        2000,
        [[(2, _NAN, 3.0, "critical")]],
    ])
    assert out == [[], [("a", "s", "ok", 1.0, 1.0)], []]
    assert s == ("ok", 1.0, 1.0, 0, 4000)
    # a remembered null-time event is not replaced either
    _, s = _drive(lambda x: so.streaming_coalesce(x, 2.0), cols, [
        [[(0, _NAN, 1.0, "ok")]], [[(1, 5.0, 2.0, "warning")]],
    ])
    assert s == ("ok", 1.0, None, 0, 2000)


def test_fill_in_last_null_time_expired_does_not_cancel(spark):
    out, s = _drive(
        lambda x: so.streaming_fill_in_last(x, 2.0),
        ("event_id", "time", "metric", "state"),
        [[[(0, 1.0, 1.0, "ok"), (1, _NAN, None, "expired")]], 2000],
    )
    assert out == [[("a", "s", "ok", 1.0, 1.0, None),
                    ("a", "s", "expired", None, None, None)],
                   [("a", "s", "ok", 1.0, 2.0, "fill")]]
    assert s == ("ok", 1.0, 1.0, 0)


def test_project_null_time_slot_is_occupied_and_never_ages(spark):
    class _Pred:
        def alias(self, name):
            return self

    cols = ("event_id", "time", "metric", "service", "state", "ttl", "pm0", "pm1")
    out, s = _drive(
        lambda x: so.streaming_project(x, [_Pred(), _Pred()], with_expiry=True),
        cols,
        [[[(0, _NAN, 1.0, "x", "ok", 1.0, True, False),
           (1, 2.0, 3.0, "y", "ok", 1.0, False, True)]],
         [[(2, 4.0, 7.0, "z", "ok", 1.0, True, False)]]],
        key=(0,),
    )
    assert out[0] == [
        (1, 2.0, None, None, None, None, "y", "ok", 3.0, 2.0),
        (0, None, "x", "ok", 1.0, None, "y", "ok", 3.0, 2.0),
    ]
    # the null-time slot is neither replaced nor ttl-expired; slot 1
    # expires at 3 s, after the clock (0 s)
    assert out[1] == [(2, 4.0, "x", "ok", 1.0, None, "y", "ok", 3.0, 2.0)]
    assert s[:3] == ([None, 2.0], [0, 1], [1.0, 3.0])


def test_stable_null_head_has_no_deadline(spark):
    cols = ("event_id", "time", "metric", "state", "sval")
    out, s = _drive(lambda x: so.streaming_stable(x, 2.0), cols, [
        [[(0, 0.0, None, "ok", "ok"), (1, _NAN, None, "ok", "ok")]],
        [[(2, _NAN, None, "warning", "warning")]],
        [[(3, 9.0, None, "warning", "warning")]],
    ])
    assert out == [[], [], []]
    assert s == ("warning", 1, [2, 3], [None, 9.0], [None, None],
                 ["warning", "warning"])


def test_rollup_keeps_a_null_first_rolled_time(spark):
    out, _ = _drive(
        lambda x: so.streaming_rollup(x, 1, 3.0),
        ("event_id", "time", "metric", "state"),
        [[[(0, 1.0, 1.0, "ok"), (1, _NAN, 2.0, "ok")]],
         [[(2, 3.0, 4.0, "ok")]], 3000],
    )
    assert out[2] == [("a", "s", 3.0, None, "ok", 2, 6.0, None, 3.0)]


def test_clock_skew_null_time_projects_nan(spark):
    out, _ = _drive(
        so.streaming_clock_skew, ("host", "event_id", "time", "metric", "state"),
        [[[("a", 0, 10.0, None, "ok"), ("b", 1, _NAN, None, "ok")]]], key=(0,),
    )
    assert out == [[("a", 0, 10.0, 0.0, "ok"), ("b", 1, None, None, "ok")]]


# --------------------------------------------------- batch twins --

_EV_DDL = ("host string, service string, event_id long, time double, "
           "metric double, state string")
_KEYS = ("host", "service")
_LIVE = st.sampled_from(["ok", "warning", "critical"])


def _batch_fixture(rows: list[dict]) -> list[dict]:
    return _ordered([dict(r, event_id=i) for i, r in enumerate(rows)])


def _drained(build, rows, cols) -> list[tuple]:
    """One invocation per key over all rows: the drained stream."""
    cap = _capture(lambda: build(_FakeSdf()))
    out, _ = _run(cap["update"], cap["keys"], cols, [rows])
    return sorted(out.elements(), key=repr)


def _frame(spark, rows):
    return spark.createDataFrame(
        [tuple(r.get(c) for c in ("host", "service", "event_id", "time",
                                  "metric", "state")) for r in rows],
        _EV_DDL,
    )


_TWIN_EVENTS = _events(time=st.integers(0, 12).map(lambda i: i * 0.5),
                       metric=_M, state=_LIVE)


def test_changed_matches_batch_twin(spark):
    @settings(max_examples=5, deadline=None)
    @given(rows=_TWIN_EVENTS)
    def prop(rows):
        rows = _batch_fixture(rows)
        got = {r[2] for r in _drained(so.streaming_changed, rows,
                                      ("event_id", "time", "metric", "state"))}
        batch = analytics.changed(_frame(spark, rows), field="state", keys=_KEYS)
        assert got == {r.event_id for r in batch.collect()}

    prop()


@pytest.mark.xfail(strict=True, reason="batch changed reads a null previous "
                   "state as 'no previous event' (lag IS NULL), so a run of "
                   "null states re-emits; the stream compares values")
def test_changed_batch_twin_on_null_state_runs(spark):
    rows = _batch_fixture([{"host": "a", "service": "s", "time": float(i),
                            "metric": None, "state": s}
                           for i, s in enumerate(["ok", None, None])])
    got = {r[2] for r in _drained(so.streaming_changed, rows,
                                  ("event_id", "time", "metric", "state"))}
    batch = analytics.changed(_frame(spark, rows), field="state", keys=_KEYS)
    assert got == {r.event_id for r in batch.collect()}


def test_throttle_matches_batch_twin(spark):
    @settings(max_examples=5, deadline=None)
    @given(rows=_TWIN_EVENTS)
    def prop(rows):
        rows = _batch_fixture(rows)
        got = {r[2] for r in _drained(lambda s: so.streaming_throttle(s, 2, 3.0),
                                      rows, ("event_id", "time", "metric"))}
        batch = analytics.throttle(_frame(spark, rows), 2, 3.0, keys=_KEYS)
        assert got == {r.event_id for r in batch.collect()}

    prop()


def test_fixed_event_window_matches_batch_twin(spark):
    @settings(max_examples=5, deadline=None)
    @given(rows=_TWIN_EVENTS)
    def prop(rows):
        rows = _batch_fixture(rows)
        got = _drained(lambda s: so.streaming_fixed_event_window(s, 3), rows,
                       ("event_id", "time", "metric"))
        tagged = windows.fixed_event_window(_frame(spark, rows), 3, keys=_KEYS)
        batch = (
            tagged.groupBy(*_KEYS, "window_id")
            .agg(F.sum(F.coalesce("metric", F.lit(0.0))).alias("sum_metric"),
                 F.count(F.lit(1)).alias("n"), F.min("time").alias("t_first"),
                 F.max("time").alias("t_last"))
            .filter(F.col("n") == 3)
            .collect()
        )
        want = sorted((tuple(r) for r in batch), key=lambda r: r[:3])
        got = sorted(got, key=lambda r: r[:3])
        assert [(*r[:3], pytest.approx(r[3]), *r[4:]) for r in got] == want

    prop()


def test_moving_event_window_matches_batch_twin(spark):
    @settings(max_examples=5, deadline=None)
    @given(rows=_events(time=st.integers(0, 12).map(lambda i: i * 0.5),
                        metric=st.integers(-20, 20).map(lambda i: i / 4)))
    def prop(rows):
        rows = _batch_fixture(rows)
        got = {r[2]: (r[5], r[6]) for r in _drained(
            lambda s: so.streaming_moving_event_window(s, 3), rows,
            ("event_id", "time", "metric"))}
        w = windows.moving_event_window(3, keys=_KEYS)
        batch = _frame(spark, rows).select(
            "event_id", F.sum("metric").over(w), F.count("metric").over(w)
        ).collect()
        assert got == {r[0]: (pytest.approx(r[1]), r[2]) for r in batch}

    prop()


def test_stable_matches_batch_twin(spark):
    @settings(max_examples=5, deadline=None)
    @given(rows=_TWIN_EVENTS)
    def prop(rows):
        rows = _batch_fixture(rows)
        for r in rows:
            r["sval"] = r["state"]
        got = {r[2] for r in _drained(
            lambda s: so.streaming_stable(s, 2.0, confirm_wallclock=False), rows,
            ("event_id", "time", "metric", "state", "sval"))}
        batch = analytics.stable(_frame(spark, rows), 2.0, keys=_KEYS)
        assert got == {r.event_id for r in batch.collect()}

    prop()
