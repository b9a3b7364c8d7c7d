"""Seeded input generators for the benchmark workloads.

Every table and batch is a pyarrow Table built from numpy's PCG64 stream, so
one seed gives byte-identical inputs. Shapes follow TPC-H (lineitem, orders,
customer, nation) with one change that real order systems share: order keys
are issued in time order, so key ranges and date ranges line up and
min/max statistics can prune files. The `events` stream is an append-only log
fed in timestamp order with a share of late rows.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.date(1992, 1, 1)
EPOCH_DAY = (EPOCH - dt.date(1970, 1, 1)).days
DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date span
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
EVENT_KINDS = np.array(["view", "click", "cart", "buy", "return"])

LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_tax", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.date32()),
])
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("user_id", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")), ("kind", pa.string()), ("value", pa.float64()),
])


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a draw to one
    stream leaves the others' inputs unchanged."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def _dates(days: np.ndarray) -> pa.Array:
    """Days after EPOCH -> date32 (days after 1970-01-01)."""
    return pa.array((days + EPOCH_DAY).astype("int32"), pa.date32())


def lineitems_for_orders(rng, orderkeys: np.ndarray, orderdays: np.ndarray) -> pa.Table:
    """1..7 lines per order (TPC-H), ship date 1..121 days after the order."""
    lines_per_order = rng.integers(1, 8, len(orderkeys))
    n = int(lines_per_order.sum())
    okey = np.repeat(orderkeys, lines_per_order)
    oday = np.repeat(orderdays, lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    linenumber = (np.arange(n) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, n).astype("float64")
    partkey = rng.integers(1, 20_001, n)
    price = np.round(qty * (900 + (partkey % 1000) / 10.0), 2)
    shipday = np.minimum(oday + rng.integers(1, 122, n), DAYS + 121)
    # returnflag R/A for lines shipped before 1995-06-17, N after (TPC-H)
    cutoff = (dt.date(1995, 6, 17) - EPOCH).days
    rf = np.where(shipday <= cutoff, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    ls = np.where(shipday > cutoff, "O", "F")
    return pa.table({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": partkey.astype("int64"),
        "l_suppkey": rng.integers(1, 1_001, n).astype("int64"),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rf,
        "l_linestatus": ls,
        "l_shipdate": _dates(shipday),
    }, schema=LINEITEM_SCHEMA)


def customers(rng, first_key: int, n: int) -> pa.Table:
    """`n` customers with keys from `first_key`."""
    keys = range(first_key, first_key + n)
    return pa.table({
        "c_custkey": np.arange(first_key, first_key + n, dtype="int64"),
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, len(NATIONS), n).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
    })


def order_days(rng, orderkeys: np.ndarray, n_orders: int) -> np.ndarray:
    """Order date rises with the key, with up to 30 days of jitter."""
    base = (orderkeys - 1) * (DAYS - 31) // max(n_orders, 1)
    return base + rng.integers(0, 31, len(orderkeys))


def tpch(seed: int, n_orders: int) -> dict:
    """nation, customer, orders and lineitem for `n_orders` orders."""
    rng = rng_for(seed, "tpch")
    n_cust = max(n_orders // 10, 100)
    okeys = np.arange(1, n_orders + 1, dtype="int64")
    odays = order_days(rng, okeys, n_orders)
    nation = pa.table({
        "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
        "n_name": NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(len(NATIONS))], pa.int32()),
    })
    customer = customers(rng, 1, n_cust)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderdate": _dates(odays),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n_orders)],
    })
    lineitem = lineitems_for_orders(rng, okeys, odays)
    return {"nation": nation, "customer": customer, "orders": orders,
            "lineitem": lineitem}


def day_to_iso(day: int) -> str:
    return (EPOCH + dt.timedelta(days=int(day))).isoformat()


def events_batch(rng, first_id: int, n: int, now_us: int, span_us: int,
                 late_frac: float, late_window_us: int, n_users: int) -> pa.Table:
    """`n` events with ids from `first_id`, timestamps spread over
    [now, now + span). A `late_frac` share lands up to `late_window_us`
    in the past, i.e. into older day partitions."""
    ts = now_us + np.sort(rng.integers(0, span_us, n))
    if late_frac > 0:
        late = rng.random(n) < late_frac
        ts = np.where(late, ts - rng.integers(span_us, late_window_us, n), ts)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype="int64"),
        "user_id": rng.integers(1, n_users + 1, n).astype("int64"),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "kind": EVENT_KINDS[rng.integers(0, len(EVENT_KINDS), n)],
        "value": np.round(rng.exponential(20.0, n), 2),
    }, schema=EVENTS_SCHEMA)
