"""Every docs/COOKBOOK.md snippet must actually run — this file IS the
cookbook's execution, recipe by recipe (kept in lock-step by hand)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from riemann_spark.operators import analytics, deps, index
from riemann_spark.plans.topology import Stream
from riemann_spark.schema import load_events

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_events(spark, SF)


def test_recipe_1_shipped_config(spark, events):
    top = Stream.of(events).default({"ttl": 3.0})
    dead = top.to_df().filter('state = "expired"')
    idx = top.where('not (service =~ "riemann %")').index()
    assert idx.to_df().count() > 0
    assert dead.count() >= 0


def test_recipe_2_changed_stable(spark, events):
    edges = analytics.changed(events, field="state", init="ok")
    calm = analytics.stable(events, 60.0, field="state")
    alerts = analytics.changed(calm, field="state", init="ok")
    assert 0 < alerts.count() <= edges.count()


def test_recipe_3_by_rate_index(spark, events):
    rated = analytics.rate(events, 5.0, keys=["host", "service"])
    as_events = rated.select(
        "host",
        "service",
        F.lit("ok").alias("state"),
        F.col("window_start").alias("time"),
        F.col("rate").alias("metric"),
    )
    idx = index.build_index(as_events)
    assert idx.count() > 0


def test_recipe_4_percentiles(spark, events):
    p = analytics.percentiles(events, 5.0, [0.5, 0.95, 0.99])
    assert p.count() > 0


def test_recipe_5_throttle_rollup(spark, events):
    calmed = analytics.throttle(events, 5, 3600.0)
    digest = analytics.rollup(calmed, 2, 3600.0)
    assert 0 < digest.count() <= calmed.count()


def test_recipe_6_deps(spark, events):
    index_df = index.build_index(events)
    rule = deps.depends(
        {"service": "app"},
        deps.depends({"service": "db"}, {"service": "disk", "state": "ok"}),
    )
    tagged = deps.deps_tag(events, index_df, rule)
    assert "deps_satisfied" in tagged.columns
    assert tagged.count() == events.count()


def test_recipe_7_wire_formats(spark, events):
    from riemann_spark.sources import (
        events_to_graphite_lines,
        graphite_lines_to_events,
    )

    lines = events_to_graphite_lines(events)
    back = graphite_lines_to_events(lines)
    assert back.count() == events.count()

    from riemann_spark.sources import (
        events_to_influx_lines,
        events_to_prometheus_text,
        influx_lines_to_events,
    )
    from riemann_spark.streaming.sinks import make_sink

    ilines = events_to_influx_lines(events)
    iback = influx_lines_to_events(ilines)
    assert iback.count() == events.count()
    prom = events_to_prometheus_text(events)
    assert prom.count() == events.filter("metric is not null").count()
    assert callable(make_sink("influxdb", url="http://influx:8086/write?db=riemann"))
    assert callable(
        make_sink(
            "webhook",
            url="https://hooks.slack.com/services/T/B/X",
            template={"text": "{host} {service} is {state} ({metric})"},
        )
    )
    assert callable(
        make_sink(
            "rabbitmq",
            host="rabbit.local",
            routing_key=lambda ev: f"riemann.events.{ev['service']}",
        )
    )
    # cookbook §7 email: curried mailer + registered sink
    from riemann_spark.streaming.email import mailer

    email = mailer({"host": "mail.relay", "from": "riemann@prod"})
    assert callable(email("oncall@example.com"))
    assert callable(
        make_sink("email", to="oncall@example.com", host="mail.relay",
                  from_addr="riemann@prod",
                  subject=lambda evs: f"{len(evs)} alerts")
    )


def test_recipe_8_streaming(spark, tmp_path):
    from riemann_spark.streaming.ops import streaming_rate

    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    from riemann_spark.schema import normalize_events, normalize_ts

    sdf = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF)
    )
    rated = streaming_rate(normalize_events(normalize_ts(sdf, "ts")), 3600.0)
    q = (
        rated.writeStream.format("memory")
        .queryName("cookbook_rate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert spark.table("cookbook_rate").count() > 0


def test_recipe_9_ingest_front_door(spark, tmp_path):
    """Recipe 9: quality gate + contamination gate + MinHash dedup in
    ONE stream; the drained result equals the batch composition of
    the same gates (gates fused as pass-through projections)."""
    from riemann_spark.functions import dedup, sketches, text
    from riemann_spark.streaming.stateful_ops import streaming_dedup_minhash

    batch = spark.read.parquet(f"{SF}/documents.parquet")
    ev = batch.filter(F.col("source") == "src0")
    tr_filter = F.col("source") != "src0"
    ev_sh = dedup._shingle_table(ev, "doc_id", "text", 4)
    bloom = sketches.bloom_dense_bytes(ev_sh, F.col("shingle"))

    bad_words = ["casino", "jackpot", "viagra"]
    blocked = (
        F.size(
            F.filter(
                text.tokens("text"),
                lambda t: F.array_contains(
                    F.array(*map(F.lit, bad_words)), F.lower(t)
                ),
            )
        )
        > 0
    )

    def gates(d):
        return (
            text.gopher_flags(d, "text")
            .withColumn(
                "n_bloom_grams",
                sketches.bloom_hits_in_array(dedup.shingles("text", 4), bloom),
            )
            .filter(
                F.col("gopher_pass") & (F.col("n_bloom_grams") == 0) & ~blocked
            )
        )

    docs = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(SF)
        .filter(tr_filter)
    )
    deduped = streaming_dedup_minhash(gates(docs).select("doc_id", "text"))
    q = (
        deduped.writeStream.format("memory")
        .queryName("front_door")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    survivors = {
        r.doc_id
        for r in spark.table("front_door")
        .groupBy("doc_id")
        .agg(F.min("claimant").alias("c"))
        .filter(F.col("c") == F.col("doc_id"))
        .collect()
    }

    # batch mirror: same fused gates, then band-min keep-first over
    # exactly the gated-in population (a drained single-batch stream
    # in doc-id order IS batch groupBy(band).min)
    gated = gates(batch.filter(tr_filter)).select("doc_id", "text")
    bands = dedup.minhash_band_rows(gated)
    claim = bands.groupBy("band").agg(F.min("doc_id").alias("claimant"))
    expected = {
        r.doc_id
        for r in bands.join(claim, "band")
        .groupBy("doc_id")
        .agg(F.min("claimant").alias("c"))
        .filter(F.col("c") == F.col("doc_id"))
        .collect()
    }
    assert survivors and survivors == expected
    # the gates really cut something, and dedup cut more
    n_in = batch.filter(tr_filter).count()
    n_gated = gated.count()
    assert n_gated < n_in and len(survivors) <= n_gated


def test_recipe_10_monitoring_warehouse(spark, events):
    """Recipe 10: the history/gaps/watermark audit trio runs end to
    end and agrees with itself — every closed SCD2 interval ends
    exactly where the next one starts (the as-of-join contract), and
    the watermark report's drop counts are monotone non-increasing
    in allowed lateness."""
    from riemann_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    hist = QUERIES["scd2_state_history"](spark, sf)
    closed = hist.filter("valid_to_us IS NOT NULL").count()
    open_ = hist.filter("valid_to_us IS NULL").count()
    keys = hist.select("host", "service").distinct().count()
    assert open_ == keys  # exactly one open interval per live key
    assert closed + open_ == hist.count()

    gaps = QUERIES["coverage_gaps"](spark, sf)
    assert gaps.filter("gap_end_us <= gap_start_us").count() == 0
    assert gaps.filter("missed_beats < 2").count() == 0  # > 2x ttl

    wm = {r["delay_s"]: r["n_dropped"]
          for r in QUERIES["watermark_sizing_report"](spark, sf).collect()}
    assert wm[0] >= wm[10] >= wm[60] >= wm[300]


def test_recipe_11_keyed_fold(spark):
    """A new per-key operator on the keyed-fold harness, tested
    without Spark through the virtual-clock testkit."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from riemann_spark.streaming.stateful_ops import _keyed_fold
    from riemann_spark.streaming.testkit import run_stream_intervals

    def streaming_flaps(sdf, keys=("host", "service")):
        out = StructType([StructField("host", StringType()),
                          StructField("service", StringType()),
                          StructField("event_id", LongType()),
                          StructField("flaps", LongType())])
        state = StructType([StructField("prev", StringType()),
                            StructField("flaps", LongType())])

        def step(g, s, eid, t, st):
            prev, flaps = s
            if prev is not None and st != prev:
                flaps += 1
                g.emit(*g.key, eid, flaps)
            return st, flaps

        return _keyed_fold(sdf, keys, out, state,
                           ("event_id", "time", "state"), (None, 0), step)

    ev = lambda st: {"host": "h", "service": "s", "state": st}  # noqa: E731
    out = run_stream_intervals(
        streaming_flaps, [ev("ok"), None, ev("critical"), None, ev("ok"), None]
    )
    assert [r["flaps"] for r in out] == [1, 2]
