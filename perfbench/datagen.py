"""Seeded synthetic inputs for the benchmark.

Every table mirrors the schema and value shapes of the engine's test
tables (events, a TPC-H-like star schema, documents), so the catalog
plans and their DuckDB oracles run unchanged on it. The same seed gives
the same bytes; nothing here reads outside the directory it writes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_USERS = 1500  # 1500 hosts x 5 services = the 7,500 index keys
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000

_ADJ = ["red", "blue", "small", "large", "hot", "old", "shiny", "green"]
_NOUN = ["widget", "bolt", "ring", "plate", "rod", "gear", "valve", "spring"]
_VOCAB = (
    "spark stream batch value key row column table query join sort scan "
    "hash group filter window order part line data vector agg merge fast "
    "slow big small a the customer"
).split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a table never
    shifts the values of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def event_columns(seed: int, n: int, span_days: float = 30.0) -> dict:
    """The raw ``events`` table as numpy columns, time-ordered with
    strictly increasing microsecond timestamps (so every ordering the
    engine applies has a unique answer)."""
    r = rng_for(seed, "events")
    span = int(span_days * DAY_US)
    ts = np.sort(r.integers(0, span - n, n)) + np.arange(n) + T0_US
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": r.integers(0, N_USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }


def events_table(cols: dict, lo: int = 0, hi: int | None = None) -> pa.Table:
    sl = slice(lo, hi)
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"][sl], pa.int64()),
            "ts": pa.array(cols["ts"][sl], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"][sl], pa.int64()),
            "event_type": pa.array(cols["event_type"][sl], pa.string()),
            "value": pa.array(cols["value"][sl], pa.float64()),
            "props": pa.array(cols["props"][sl], pa.string()),
        }
    )


def _dates(r: np.random.Generator, n: int, lo_day: int, hi_day: int) -> np.ndarray:
    epoch_1995 = 9131  # days from 1970-01-01 to 1995-01-01
    return (epoch_1995 + r.integers(lo_day, hi_day, n)).astype(np.int64) * DAY_US


def star_tables(seed: int, n_lineitem: int) -> dict[str, pa.Table]:
    """region / nation / supplier / part / orders / lineitem, scaled to
    ``n_lineitem`` rows the way the engine's sf tables scale."""
    r = rng_for(seed, "star")
    n_orders = max(n_lineitem // 4, 10)
    n_part = max(n_lineitem // 30, 8)
    n_supp = max(n_lineitem // 600, 10)
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999, 9999, n_supp), 2),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    odate = _dates(r, n_orders, 0, 2405)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(r.integers(0, max(n_orders // 10, 1), n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
            "o_totalprice": np.round(r.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, n_orders)],
        }
    )
    okey = r.integers(0, n_orders, n_lineitem)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_lineitem), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_lineitem), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_lineitem), pa.int32()),
            "l_quantity": r.integers(1, 51, n_lineitem).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105000, n_lineitem), 2),
            "l_discount": r.integers(0, 11, n_lineitem) / 100.0,
            "l_tax": r.integers(0, 9, n_lineitem) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_lineitem)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_lineitem)],
            "l_shipdate": pa.array(
                odate[okey] + r.integers(1, 122, n_lineitem) * DAY_US,
                pa.timestamp("us"),
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def documents_table(seed: int, n: int) -> pa.Table:
    """Short word-salad documents; every 10th re-uses an earlier text
    with one word swapped, so the dedup rows find near-duplicates."""
    r = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = _VOCAB[int(r.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[j] for j in r.integers(0, len(_VOCAB), int(r.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[r.integers(0, 7, n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_dataset(
    out_dir: str, seed: int, n_events: int, n_lineitem: int = 0, n_docs: int = 0
) -> dict:
    """Write an sf-style directory (``<table>.parquet`` files) and
    return the event columns for in-process oracles."""
    os.makedirs(out_dir, exist_ok=True)
    ev = event_columns(seed, n_events)
    pq.write_table(events_table(ev), os.path.join(out_dir, "events.parquet"))
    if n_lineitem:
        for name, t in star_tables(seed, n_lineitem).items():
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    if n_docs:
        pq.write_table(documents_table(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    return ev


# ------------------------------------------------------------ wire events --

# The ``ingest_query`` load, shared by the workload and its generator.
PER_FRAME = 100  # events per protobuf Msg frame
RATE = 45_000.0  # phase A open-loop events/s, about half the saturation rate
WINDOW = 4  # phase B frames in flight per write connection


def wire_columns(seed: int, n: int, after_us: int) -> dict[str, np.ndarray]:
    """Events the load generator sends over TCP, as columns: the 7,500
    index keys, stamped strictly after ``after_us`` with distinct
    microsecond times, so each key's latest event is unambiguous. Drawn
    in fixed blocks, so the first k events do not depend on ``n``."""
    block = 1000
    parts: dict[str, list] = {"host": [], "service": [], "metric": [], "ttl": []}
    for b in range((n + block - 1) // block):
        r = rng_for(seed * 100_003 + b, "wire")
        parts["host"].append(r.integers(0, N_USERS, block))
        parts["service"].append(r.integers(0, len(EVENT_TYPES), block))
        parts["metric"].append(np.round(r.exponential(50.0, block), 2))
        parts["ttl"].append(r.integers(60, 300, block).astype(np.float64))
    cols = {k: np.concatenate(v)[:n] if v else np.zeros(0) for k, v in parts.items()}
    cols["time_us"] = after_us + 1_000_000 + np.arange(n, dtype=np.int64) * 1000
    return cols


def wire_event(cols: dict, i: int) -> dict:
    """Event ``i`` of ``wire_columns`` as an engine event dict."""
    metric = float(cols["metric"][i])
    return {
        "host": str(int(cols["host"][i])),
        "service": str(EVENT_TYPES[cols["service"][i]]),
        "state": "warning" if metric > 150.0 else "ok",
        "metric": metric,
        "tags": ["wire"],
        "time_us": int(cols["time_us"][i]),
        "ttl": float(cols["ttl"][i]),
    }
