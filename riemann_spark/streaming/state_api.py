"""Stateful-streaming API adapter: one seam between our per-key state
machines and whichever Spark state API the runtime supports.

Every custom stateful operator (stateful_ops.py, index_stream.py) is
written against the ``applyInPandasWithState`` contract:

    update(key_tuple, iter_of_pdfs, GroupState) -> yields pd.DataFrame

Spark 4 ships a successor, ``transformWithStateInPandas`` (SPARK-49564
/ the ``StatefulProcessor`` API), whose Python worker protocol needs
the ``google.protobuf`` package — absent from this container (verified:
``importlib.util.find_spec('google.protobuf')`` is None), so the
legacy API is the only exercisable path here. This module keeps the
migration mechanical when that lands:

- ``apply_with_state(...)`` is THE call site every operator routes
  through (stateful_ops._keyed_fold registers every keyed fold through
  it): legacy path today; set ``RIEMANN_SPARK_TWS=1`` where protobuf
  exists and the SAME update functions run under a
  ``StatefulProcessor`` shim, unchanged.
- ``TwsGroupStateShim`` maps the GroupState surface the operators
  actually use (exists/get/update/remove, processing-time timeouts,
  hasTimedOut) onto TWS ValueState + timers. The mapping is 1:1:

  | GroupState (legacy)            | TWS StatefulProcessor            |
  |--------------------------------|----------------------------------|
  | state.exists / get             | ValueState.exists() / get()      |
  | state.update(tuple)            | ValueState.update(tuple)         |
  | state.remove()                 | ValueState.clear()               |
  | setTimeoutDuration(ms)         | handle.registerTimer(now + ms)   |
  | hasTimedOut                    | handleExpiredTimer invocation    |
  | getCurrentProcessingTimeMs()   | timerValues.getCurrentProcessingTimeInMs() |

STATE_TABLE below is the per-operator state-schema inventory — the
contract a migration must preserve (one ValueState row per key,
tuple-shaped, exactly these fields).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import StructType

# Per-operator state contracts (stateful_ops.py + index_stream.py).
# "timeout" is the GroupStateTimeout mode; "emission" says when rows
# leave the operator — the two things a state-API migration can break.
STATE_TABLE = {
    "streaming_cusum": {
        "keys": ("host", "service"),
        "state": "(s long, i long)  # quantized CUSUM statistic + ordinal",
        "timeout": "none",
        "emission": "one row per upward threshold crossing",
    },
    "streaming_retrain_trigger": {
        "keys": ("host", "service"),
        "state": "(b long, sum_q long, n long, consec long)  # open "
                 "hourly window + consecutive-drift counter",
        "timeout": "none",
        "emission": "one row when m consecutive closed windows drift",
    },
    "streaming_ewma": {
        "keys": ("host", "service"),
        "state": "(m double, t double)",
        "timeout": "none",
        "emission": "per event",
    },
    "streaming_moving_event_window": {
        "keys": ("host", "service"),
        "state": "(buf array<double>)  # last-n metrics",
        "timeout": "none",
        "emission": "per event",
    },
    "streaming_moving_time_window": {
        "keys": ("host", "service"),
        "state": "(cutoff double, eids array<long>, times array<double>, "
                 "metrics array<double>)  # horizon buffer",
        "timeout": "none",
        "emission": "full buffer per in-window event",
    },
    "streaming_coalesce": {
        "keys": ("host", "service"),
        "state": "(state string, metric double, time double, event_id long, "
                 "deadline long)",
        "timeout": "processing-time (absolute deadline re-armed)",
        "emission": "timer-driven snapshot every dt",
    },
    "streaming_fixed_event_window": {
        "keys": ("host", "service"),
        "state": "(buf_m array<double>, buf_t array<double>, win long)"
                 "  # the open window's metrics + times, window ordinal",
        "timeout": "none",
        "emission": "one row per filled n-window",
    },
    "streaming_fill_in_last": {
        "keys": ("host", "service"),
        "state": "(state string, metric double, time double, "
                 "event_id long)  # the last event; no stored deadline",
        "timeout": "processing-time (deferred timers)",
        "emission": "gap-fill rows while silent",
    },
    "streaming_batch": {
        "keys": ("host", "service"),
        "state": "(buf_m array<double>, buf_t array<double>, bid long, "
                 "deadline long)  # buffered rows + absolute deadline",
        "timeout": "processing-time (n-or-dt flush)",
        "emission": "flush on count n or deadline dt",
    },
    "streaming_top": {
        "keys": ("__g",),
        "state": "(hosts array<string>, services array<string>, "
                 "metrics array<double>, times array<double>)"
                 "  # the k-sized top set",
        "timeout": "none",
        "emission": "top/bottom dual stream + demotion events",
    },
    "streaming_throttle": {
        "keys": ("host", "service"),
        "state": "(bucket long, sent long)  # open dt window + sent count",
        "timeout": "none",
        "emission": "first n per window, rest dropped",
    },
    "streaming_changed": {
        "keys": ("host", "service"),
        "state": "(prev string)  # the last value of the field",
        "timeout": "none",
        "emission": "edge events only",
    },
    "streaming_project": {
        "keys": ("__g",),
        "state": "(ts array<double>, ids array<long>, ms array<double>)"
                 "  # one remembered event per pattern slot; with_expiry "
                 "adds svcs/sts/ttls arrays",
        "timeout": "none",
        "emission": "projected vector per update",
    },
    "streaming_anomaly_zscore": {
        "keys": ("host", "service"),
        "state": "(buf array<double>)  # last n_window metrics",
        "timeout": "none",
        "emission": "per event with running z",
    },
    "streaming_dedup_minhash": {
        "keys": ("band",),
        "state": "(claimant long)  # min doc_id ever seen in bucket",
        "timeout": "none",
        "emission": "per (doc, band) row with claimant-so-far",
    },
    "streaming_bottomk": {
        "keys": ("shard",),
        "state": "(version long, prios array<double>, ids array<long>)"
                 "  # the shard's k smallest",
        "timeout": "none",
        "emission": "full shard membership per invocation, versioned",
    },
    "streaming_rollup": {
        "keys": ("host", "service"),
        "state": "(sent long, buf_n long, buf_sum double, buf_t0 double, "
                 "buf_t1 double, last_state string, deadline long)"
                 "  # rolled-tail aggregate",
        "timeout": "processing-time (absolute deadline; idle keys removed)",
        "emission": "first n pass per dt window, tail as one digest row",
    },
    "streaming_ddt_interval": {
        "keys": ("host", "service"),
        "state": "(e1_t double, e1_m double, e2_t double, e2_m double, "
                 "cur_t double, cur_m double, deadline long, "
                 "expires double)  # e1/e2 samples + current",
        "timeout": "processing-time (every-n tick until expired)",
        "emission": "d(metric)/d(event-time) per tick; 0 in silence",
    },
    "streaming_interpolate_constant": {
        "keys": ("host", "service"),
        "state": "(state string, metric double, deadline long, "
                 "expires double)  # the template event",
        "timeout": "processing-time (every-interval tick until expired)",
        "emission": "latest-event copy per tick; expired pass-through",
    },
    "streaming_rate_interval": {
        "keys": ("host", "service"),
        "state": "(t_host string, t_service string, t_state string, "
                 "ttl double, sum double, deadline long, expires double)"
                 "  # template + interval sum",
        "timeout": "processing-time (every-interval tick until expired)",
        "emission": "sum/interval every tick, 0 in silence, ttl decay",
    },
    "streaming_stable": {
        "keys": ("host", "service"),
        "state": "(prev string, has_prev long, b_eids array<long>, "
                 "b_times array<double>, b_metrics array<double>, "
                 "b_states array<string>)  # buffered events",
        "timeout": "processing-time (head+dt confirmation flush)",
        "emission": "stable events pass; buffer flushes on dt proof",
    },
    "streaming_clock_skew": {
        "keys": ("__g",),
        "state": "(hosts array<string>, times array<double>, "
                 "arrs array<double>)  # per-host clock entries",
        "timeout": "none",
        "emission": "per event with metric = time - median clock",
    },
    "streaming_token_budget": {
        "keys": ("part",),
        "state": "(cum long)  # running source token total",
        "timeout": "none",
        "emission": "per doc with cum_tokens + within_budget",
    },
    "streaming_url_gate": {
        "keys": ("shard",),
        "state": "(bloom binary)  # 2^20-bit seen-URL filter",
        "timeout": "none",
        "emission": "per url with seen_probable + kept",
    },
    "streaming_scd2": {
        "keys": ("host", "service"),
        "state": "(prev string, version long, valid_from_us long, "
                 "n_events long)  # the open run",
        "timeout": "none",
        "emission": "closed validity interval per state transition",
    },
    "streaming_funnel": {
        "keys": ("host",),
        "state": "(stage long, t double)  # reached stage + anchor time",
        "timeout": "none",
        "emission": "one row per stage advance",
    },
    "index_stream (expire reaper)": {
        "keys": ("host", "service"),
        "state": "(state string, metric double, time double, ttl double, "
                 "event_id long)  # the latest event; expiry at time + ttl",
        "timeout": "event-time (watermark-driven expiry)",
        "emission": "synthetic 'expired' rows at ttl",
    },
}


#: Test seam for testkit.run_stream_intervals: when set, apply_with_state
#: hands the (keys, update, schemas, timeout) registration to the hook
#: instead of building a plan — the virtual-clock harness then drives the
#: captured update closure under controlled time.
_capture_hook = None


def _tws_available() -> bool:
    if os.environ.get("RIEMANN_SPARK_TWS") == "1":
        return True
    return False


def apply_with_state(
    sdf: DataFrame,
    keys: Sequence[str],
    update: Callable,
    out_schema: StructType,
    state_schema: StructType,
    timeout=GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Route a per-key state machine through the supported state API.

    Today: ``applyInPandasWithState`` (the only path exercisable in
    this container). Where ``google.protobuf`` exists,
    RIEMANN_SPARK_TWS=1 runs the SAME ``update`` through
    ``transformWithStateInPandas`` via the shim below — the operators
    themselves never change.
    """
    if _capture_hook is not None:
        _capture_hook(keys, update, out_schema, state_schema, timeout)
        return sdf
    if _tws_available():
        return _apply_tws(sdf, keys, update, out_schema, state_schema,
                          timeout)
    return sdf.groupBy(*keys).applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout
    )


# ------------------------------------------------------------- shim --
# Exercised only where google.protobuf is installed (cluster deploys);
# unit-tested via tests/test_state_api.py which SKIPS in-container.

class TwsGroupStateShim:
    """Presents the GroupState surface over a TWS ValueState + timers."""

    def __init__(self, value_state, handle, timer_values,
                 has_timed_out: bool = False):
        self._vs = value_state
        self._handle = handle
        self._tv = timer_values
        self.hasTimedOut = has_timed_out

    @property
    def exists(self) -> bool:
        return self._vs.exists()

    @property
    def get(self):
        return tuple(self._vs.get())

    def update(self, value) -> None:
        self._vs.update(tuple(value))

    def remove(self) -> None:
        self._vs.clear()

    def getCurrentProcessingTimeMs(self) -> int:
        return self._tv.getCurrentProcessingTimeInMs()

    def setTimeoutDuration(self, ms: int) -> None:
        now = self._tv.getCurrentProcessingTimeInMs()
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        self._handle.registerTimer(now + int(ms))

    # event-time timer surface (index_stream's TTL reaper)
    def getCurrentWatermarkMs(self) -> int:
        return self._tv.getCurrentWatermarkInMs()

    def setTimeoutTimestamp(self, ts_ms: int) -> None:
        for t in self._handle.listTimers():
            self._handle.deleteTimer(t)
        self._handle.registerTimer(int(ts_ms))


def _apply_tws(sdf, keys, update, out_schema, state_schema,
               timeout) -> DataFrame:
    from pyspark.sql.streaming.stateful_processor import (  # Spark 4 API
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    time_mode = (
        "ProcessingTime"
        if timeout == GroupStateTimeout.ProcessingTimeTimeout
        else ("EventTime" if timeout == GroupStateTimeout.EventTimeTimeout
              else "None")
    )

    class _Proc(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._state = handle.getValueState("s", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            shim = TwsGroupStateShim(self._state, self._handle, timerValues)
            yield from update(key, rows, shim)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            shim = TwsGroupStateShim(
                self._state, self._handle, timerValues, has_timed_out=True
            )
            yield from update(key, iter(()), shim)

        def close(self) -> None:
            pass

    return sdf.groupBy(*keys).transformWithStateInPandas(
        _Proc(), outputStructType=out_schema, outputMode="append",
        timeMode=time_mode,
    )
