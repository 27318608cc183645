"""Seeded input generator for the benchmark.

Every table the benchmarked queries read is generated here from the
workload seed, with the schemas of the engine's fixture tables (see
FIXTURES.md) and the same value domains: a TPC-H-like star, an
``events`` stream table, a ``documents`` corpus with planted exact and
near duplicates, and unit-norm ``embeddings``. The same seed and size
give byte-identical parquet files.

The ingest workload additionally needs its inputs cut into arriving
files: ``write_event_batches`` splits events into date-range files and
``write_document_batches`` splits documents in ``doc_id`` order. The
file stream source processes files in modification-time order, so the
arrival order is set with ``os.utime``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Size:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    users: int
    events: int
    documents: int
    embeddings: int


# ``tiny`` is the size of the set-up probe, the ingest warm-up and smoke runs
# (the sf0.001 fixture's row counts, with fewer documents and embeddings);
# the others are the measured sizes.
SIZES = {
    "tiny": Size(150, 10, 200, 1_500, 6_000, 15, 1_000, 200, 200),
    "dashboard": Size(1_500, 100, 2_000, 15_000, 60_000, 150, 10_000, 500, 0),
    "curation": Size(0, 0, 0, 0, 0, 0, 0, 1_000, 1_000),
    "ingest": Size(0, 0, 0, 0, 0, 150, 10_000, 500, 0),
}

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _dates(rng, n: int, lo: dt.datetime, days: int) -> pa.Array:
    day_us = 86_400 * 1_000_000
    return _ts(_us(lo) + rng.integers(0, days + 1, n) * day_us)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def make_tables(seed: int, size: Size) -> dict[str, pa.Table]:
    """All non-empty tables for ``size``, generated from ``seed``."""
    streams = np.random.SeedSequence(seed).spawn(8)
    rng = [np.random.default_rng(s) for s in streams]
    tables: dict[str, pa.Table] = {}
    if size.lineitems:
        tables.update(_star(rng[0], rng[1], rng[2], size))
    if size.events:
        tables["events"] = make_events(rng[3], size.events, size.users)
    if size.documents:
        tables["documents"] = _documents(rng[4], size.documents)
    if size.embeddings:
        tables["embeddings"] = _embeddings(rng[5], size.embeddings)
    return tables


def _star(r_dim, r_ord, r_li, s: Size) -> dict[str, pa.Table]:
    i32 = pa.int32()
    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(s.customers)),
            "c_name": _names("Customer", s.customers),
            "c_nationkey": pa.array(r_dim.integers(0, 25, s.customers), i32),
            "c_acctbal": _money(r_dim, s.customers, -999.99, 9999.99),
            "c_mktsegment": _pick(r_dim, SEGMENTS, s.customers),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s.suppliers)),
            "s_name": _names("Supplier", s.suppliers),
            "s_nationkey": pa.array(r_dim.integers(0, 25, s.suppliers), i32),
            "s_acctbal": _money(r_dim, s.suppliers, -999.99, 9999.99),
        }
    )
    adj = r_dim.integers(0, len(PART_ADJ), s.parts)
    noun = r_dim.integers(0, len(PART_NOUN), s.parts)
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(s.parts)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in r_dim.integers(1, 26, s.parts)]),
            "p_type": _pick(r_dim, PART_TYPES, s.parts),
            "p_size": pa.array(r_dim.integers(1, 51, s.parts), i32),
            "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) * 0.1, 1),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(s.orders)),
            "o_custkey": pa.array(r_ord.integers(0, s.customers, s.orders)),
            "o_orderstatus": _pick(r_ord, ("F", "O", "P"), s.orders),
            "o_totalprice": _money(r_ord, s.orders, 1000.0, 500_000.0),
            "o_orderdate": _dates(r_ord, s.orders, dt.datetime(1995, 1, 1), 2404),
            "o_orderpriority": _pick(r_ord, PRIORITIES, s.orders),
        }
    )
    n = s.lineitems
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(r_li.integers(0, s.orders, n)),
            "l_partkey": pa.array(r_li.integers(0, s.parts, n)),
            "l_suppkey": pa.array(r_li.integers(0, s.suppliers, n)),
            "l_linenumber": pa.array(r_li.integers(1, 8, n), i32),
            "l_quantity": r_li.integers(1, 51, n).astype("float64"),
            "l_extendedprice": _money(r_li, n, 900.0, 105_000.0),
            "l_discount": r_li.integers(0, 11, n) / 100.0,
            "l_tax": r_li.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(r_li, ("A", "N", "R"), n),
            "l_linestatus": _pick(r_li, ("F", "O"), n),
            "l_shipdate": _dates(r_li, n, dt.datetime(1995, 1, 2), 2498),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def make_events(rng, n: int, users: int) -> pa.Table:
    """``n`` events over 30 days in ``event_id`` = time order, with
    strictly increasing timestamps (the window queries order by ts)."""
    raw = np.sort(rng.integers(0, EVENTS_SPAN_US - n, n))
    ts = raw + np.arange(n)  # strictly increasing
    return pa.table(
        {
            "event_id": pa.array(np.arange(n)),
            "ts": _ts(_us(EVENTS_START) + ts),
            "user_id": pa.array(rng.integers(0, users, n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents of 10-100 words; 5% are a copy of another
    document plus `` dup`` (near duplicates) and 0.2% verbatim copies."""
    texts = []
    for _ in range(n):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    kinds = rng.random(n)
    sources = rng.integers(0, n, n)
    for i in range(n):
        j = int(sources[i])
        if j == i:
            continue
        if kinds[i] < 0.05:
            texts[i] = texts[j] + " dup"
        elif kinds[i] < 0.052:
            texts[i] = texts[j]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype="int32"))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write each table as ``<out_dir>/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def lookback_days(events: pa.Table, rows: int) -> int:
    """Whole days that cover the longest time span of ``rows``
    consecutive events of any ``user_id``."""
    users = events.column("user_id").to_numpy()
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    w = rows - 1
    same = users[w:] == users[:-w]
    span = (ts[w:] - ts[:-w])[same]
    longest = int(span.max()) if span.size else 0
    day = 86_400 * 1_000_000
    return max(1, -(-longest // day))


@dataclass(frozen=True)
class Arrival:
    """Files delivered to a stream source, in arrival order."""

    files: tuple[str, ...]
    rows: int  # rows delivered, redelivered batches included


def write_event_batches(
    rng, events: pa.Table, out_dir: str, n_batches: int
) -> Arrival:
    """Split events into ``n_batches`` date-range files, deliver them in a
    seed-permuted order, and deliver one seed-chosen batch a second time
    later on. Modification times encode the arrival order."""
    os.makedirs(out_dir)
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    edges = np.linspace(ts.min(), ts.max() + 1, n_batches + 1).astype("int64")
    paths = []
    for b in range(n_batches):
        mask = (ts >= edges[b]) & (ts < edges[b + 1])
        p = os.path.join(out_dir, f"events-{b:03d}.parquet")
        pq.write_table(events.filter(pa.array(mask)), p)
        paths.append(p)
    order = [paths[i] for i in rng.permutation(n_batches)]
    dup = int(rng.integers(0, n_batches))
    again = os.path.join(out_dir, f"events-{dup:03d}-redelivered.parquet")
    shutil.copyfile(paths[dup], again)
    after = order.index(paths[dup]) + 1
    order.insert(int(rng.integers(after, n_batches + 1)), again)
    _set_arrival(order)
    rows = events.num_rows + pq.ParquetFile(again).metadata.num_rows
    return Arrival(tuple(order), rows)


def write_document_batches(docs: pa.Table, out_dir: str, n_batches: int) -> Arrival:
    """Split documents into ``n_batches`` files in ``doc_id`` order,
    arriving in that order."""
    os.makedirs(out_dir)
    n = docs.num_rows
    edges = np.linspace(0, n, n_batches + 1).astype(int)
    paths = []
    for b in range(n_batches):
        p = os.path.join(out_dir, f"docs-{b:03d}.parquet")
        pq.write_table(docs.slice(edges[b], edges[b + 1] - edges[b]), p)
        paths.append(p)
    _set_arrival(paths)
    return Arrival(tuple(paths), n)


def _set_arrival(paths: list[str]) -> None:
    base = 1_700_000_000
    for k, p in enumerate(paths):
        os.utime(p, (base + 10 * k, base + 10 * k))
