"""Streaming index: latest event per [host, service] with TTL expiry.

Reference behavior being reproduced (see operators/index.py for the
batch oracle):
- upsert latest per key (index.clj:98-101), tombstone on
  state="expired";
- reaper: when time+ttl passes, emit a synthetic
  {host service state="expired" time=now} event (index.clj:73-87,
  core.clj:275-309,300-307).

Realized as ``applyInPandasWithState`` over groupBy(host, service)
with EventTimeTimeout: per-key state is the current latest event; a
timer at (time + ttl) fires once the watermark passes it, emitting the
synthetic expired row and clearing state — the reaper loop without a
scheduler thread, checkpointed and partitioned across executors.

Scale: state is one row per live [host, service] key, hash-partitioned
by the shuffle — the direct analogue of the reference's
NonBlockingHashMap but distributed and fault-tolerant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from riemann_spark.schema import DEFAULT_TTL
from riemann_spark.streaming.ops import with_event_timestamp
from riemann_spark.streaming.stateful_ops import _fold_update, _keyed_fold

OUTPUT_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("service", StringType()),
        StructField("state", StringType()),
        StructField("metric", DoubleType()),
        StructField("time", DoubleType()),
        StructField("ttl", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("state", StringType()),
        StructField("metric", DoubleType()),
        StructField("time", DoubleType()),
        StructField("ttl", DoubleType()),
        StructField("event_id", LongType()),
    ]
)


def _reaper(keep_keys: tuple[str, ...] = ()) -> dict:
    """The index as a keyed fold: last-write-wins by (time, event_id) —
    the batch index's documented deterministic ordering — emitting the
    key's latest event once per invocation, with an event-time timer at
    time + ttl."""

    # a null-time event can neither be ordered nor expire: the index
    # skips it
    def step(g, best, eid, t, m, st, ttl):
        if t is not None and (best is None or (t, eid) > (best[2], best[4])):
            return st, m, t, ttl, eid
        return best

    def finish(g, best):
        if best[0] == "expired":
            return None  # tombstone deletes the key (index.clj:98-101)
        g.emit(*g.key, *best[:4])
        return best

    # reaper fire: synthetic expired event at the watermark clock.
    # keep_keys (core.clj:284-301, reaper :keep-keys) carries the
    # named fields of the indexed event onto the expired row —
    # default none beyond the key, exactly the reference's
    # [:host :service]; state/time are always overwritten.
    def on_timer(g, prev):
        metric = prev[1] if prev is not None and "metric" in keep_keys else None
        ttl = prev[3] if prev is not None and "ttl" in keep_keys else None
        g.emit(*g.key, "expired", metric, g.now / 1000.0, ttl)
        return None

    # the harness clips a late-arriving already-expired entry to fire
    # at the next watermark advance (timers must be ahead of it)
    def deadline(g, best):
        return int((best[2] + (best[3] if best[3] is not None else DEFAULT_TTL)) * 1000)

    return dict(
        cols=("event_id", "time", "metric", "state", "ttl"), init=None,
        step=step, finish=finish, on_timer=on_timer, deadline=deadline,
        timeout=GroupStateTimeout.EventTimeTimeout,
    )


def _update(key, pdfs, state, keep_keys: tuple[str, ...] = ()):
    """One index invocation for ``key`` (the registered update closure,
    callable directly)."""
    return _fold_update(OUTPUT_SCHEMA, **_reaper(keep_keys))(key, pdfs, state)


def streaming_index(
    sdf: DataFrame,
    watermark: str = "0 seconds",
    keep_keys: str | tuple[str, ...] = (),
) -> DataFrame:
    """Wire the stateful index over a streaming event frame.

    Emits the key's new latest event on every update, plus synthetic
    ``state="expired"`` rows when TTLs lapse. ``keep_keys`` mirrors the
    reaper's ``:keep-keys`` option (core.clj:284-301): names of indexed
    fields to carry onto the expired row (``"all"`` = every field the
    index schema carries; default none beyond the key, the reference's
    ``[:host :service]``). Feed the output back to a source topic for
    the reference's reinject loop (SURVEY §2.7 — Spark DAGs are
    acyclic, so feedback is a Kafka round-trip)."""
    # a bare string ("metric") must become a one-element tuple —
    # tuple("metric") would silently explode it into characters
    if isinstance(keep_keys, str):
        kk: tuple[str, ...] = (
            ("metric", "ttl") if keep_keys == "all" else (keep_keys,)
        )
    else:
        kk = tuple(keep_keys)
    # only the fields the reaper actually carries onto the expired row
    # are valid — accepting any indexed field (e.g. 'time', 'state',
    # which the reaper always overwrites) would make those silent
    # no-ops, the exact misconfiguration class this check exists for
    valid = {"metric", "ttl"}
    unknown = [k for k in kk if k not in valid]
    if unknown:
        raise ValueError(
            f"streaming_index keep_keys: unknown/uncarryable field(s) "
            f"{unknown}; the reaper can carry {sorted(valid)} "
            f'(or "all")'
        )

    sdf = with_event_timestamp(sdf).withWatermark("event_ts", watermark)
    return _keyed_fold(
        sdf, ("host", "service"), OUTPUT_SCHEMA, STATE_SCHEMA, **_reaper(kk)
    )


def delete_tombstones(
    index_snapshot: DataFrame,
    commands: DataFrame,
    fields: tuple[str, ...] = ("host",),
    now: float = 0.0,
) -> DataFrame:
    """delete-from-index by field match for the STREAMING index
    (core.clj:256-273): cohort delete commands (e.g. "drop every key
    of this host") fan out against the current index snapshot into
    per-key ``state="expired"`` tombstones — exactly what the keyed
    state machine consumes as deletions (index.clj:98-101,
    _update:95-99). Feed the result back into the index stream's
    source (the documented Kafka reinject boundary, SURVEY §2.7).

    ``now`` must be >= the cohort's event times so the tombstone wins
    last-write-wins; event_id is pinned to a sentinel above any real
    id for the deterministic tie-break."""
    cmds = commands.select(*fields).dropDuplicates()
    cond = index_snapshot[fields[0]].eqNullSafe(cmds[fields[0]])
    for f_ in fields[1:]:
        cond = cond & index_snapshot[f_].eqNullSafe(cmds[f_])
    from pyspark.sql import functions as F

    keys = index_snapshot.join(F.broadcast(cmds), cond, "left_semi")
    return keys.select(
        "host",
        "service",
        F.lit("expired").alias("state"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("double").alias("metric"),
        F.lit(None).cast("array<string>").alias("tags"),
        F.lit(float(now)).alias("time"),
        F.lit(None).cast("double").alias("ttl"),
        F.lit(1 << 62).alias("event_id"),
    )
