"""Seeded synthetic star tables (events, customer, part).

The benchmark reads nothing outside the repository, so it writes its own
inputs with the schema and value distributions of the sf test fixtures:
at ``sf=0.1`` that is 100k events spread uniformly over 30 days, 1500
active users, five equally likely event types, an exponential ``value``
(mean 50, two decimals), 15k customers in five market segments and 20k
parts. The same ``(seed, sf)`` always writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
START = dt.datetime(2024, 1, 1)
DAYS = 30
US_PER_DAY = 86_400_000_000


def sizes(sf: float) -> dict[str, int]:
    return {
        "events": int(round(1_000_000 * sf)),
        "customer": int(round(150_000 * sf)),
        "users": int(round(15_000 * sf)),
        "part": int(round(200_000 * sf)),
    }


def events_table(seed: int, sf: float) -> pa.Table:
    """``events`` in event-time order: ts uniform over ``DAYS`` days."""
    rng = np.random.default_rng([seed, 1])
    n = sizes(sf)["events"]
    span_us = DAYS * US_PER_DAY
    offs = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64(START, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, sizes(sf)["users"], n)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def customer_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = sizes(sf)["customer"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
        }
    )


def part_table(seed: int, sf: float) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    n = sizes(sf)["part"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array([f"part {k}" for k in keys]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 56, n)]),
            "p_type": pa.array(np.array(("SMALL", "LARGE", "ECONOMY"))[keys % 3]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
        }
    )


def first_days(events: pa.Table, days: int) -> pa.Table:
    """The leading ``days`` days of an event-time ordered log."""
    end = np.datetime64(START + dt.timedelta(days=days), "us")
    ts = events["ts"].to_numpy()
    return events.slice(0, int(np.searchsorted(ts, end)))


def write_star(out_dir: Path, seed: int, sf: float, events: pa.Table) -> str:
    """Write ``events``/``customer``/``part`` parquet files into ``out_dir``
    (the layout ``schemas.load_table`` reads) and return its path."""
    out_dir.mkdir(parents=True, exist_ok=True)
    # UTC-adjusted, so Spark reads TIMESTAMP like the batches the live
    # workload hands over (a zone-less column would read as TIMESTAMP_NTZ)
    ts = events["ts"].cast(pa.timestamp("us", tz="UTC"))
    events = events.set_column(events.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(events, out_dir / "events.parquet")
    pq.write_table(customer_table(seed, sf), out_dir / "customer.parquet")
    pq.write_table(part_table(seed, sf), out_dir / "part.parquet")
    return str(out_dir)
