"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` writes the relational registry tables (TPC-H-shaped
  star schema and ``events``) with the schemas the registry queries
  read. Their distributions follow the repository's sf fixtures: uniform
  keys, row counts scaled from sf. (The text legs' ``documents`` table is
  not generated: ``data/documents_sf0.1.parquet`` is the sf0.1 fixture.)
* ``write_sync_series`` writes a series of tap-output batches for the ETL
  workload: an ``orders`` CSV stream, an ``events`` Parquet stream with a
  JSON-string ``props`` column, and a ``catalog.json``. Batch 0 is full;
  each later batch re-sends about 20% of the known keys with new values
  and adds new keys, so the snapshot grows along the series.

Everything is a pure function of the seed and the sizes.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
STATUS = ["O", "F", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _str(values: np.ndarray) -> pa.Array:
    return pa.array(values).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    props = pc.binary_join_element_wise('{"k": ', _str(rng.integers(0, 100, n)), "}", "")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(_EPOCH_2024, offsets),
        "user_id": rng.integers(0, max(n // 67, 10), n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(25.0, n), 2),
        "props": props,
    })


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.1 = 600k
    lineitem rows, like the repository's fixtures)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
    }


def write_tables(out_dir: str, sf: float, seed: int, tables: list[str]) -> dict[str, dict]:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; return
    ``{name: {"rows": n, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    size = table_sizes(sf)
    n_cust, n_supp, n_part, n_ord = (
        size["customer"], size["supplier"], size["part"], size["orders"]
    )
    # 1995-01-01 .. 2001-08-01; orders and lineitem share it
    order_days = np.random.default_rng([seed, 0]).integers(0, 2404, n_ord)
    builders = {
        "region": lambda rng: pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": lambda rng: pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": lambda rng: pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": lambda rng: pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": lambda rng: pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": lambda rng: pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, STATUS, n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_EPOCH_1995, order_days * _US_PER_DAY).cast(pa.timestamp("ms")),
            "o_orderpriority": _pick(rng, PRIORITY, n_ord),
        }),
        "lineitem": lambda rng: _lineitem(rng, size["lineitem"], order_days, n_part, n_supp),
        "events": lambda rng: _events(rng, size["events"]),
    }
    info = {}
    for name in tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        # one random stream per table, so any subset of tables is stable
        rng = np.random.default_rng([seed, 1 + list(builders).index(name)])
        table = builders[name](rng)
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


def _lineitem(rng, n, order_days, n_part, n_supp) -> pa.Table:
    okey = rng.integers(0, len(order_days), n)
    ship_days = order_days[okey] + rng.integers(1, 96, n)
    return pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(_EPOCH_1995, ship_days * _US_PER_DAY).cast(pa.timestamp("ms")),
    })


# -- ETL sync series ---------------------------------------------------------

ORDERS_PROPS = {
    "o_orderkey": {"type": "integer"},
    "o_custkey": {"type": ["integer", "null"]},
    "o_orderstatus": {"type": ["string", "null"]},
    "o_totalprice": {"type": ["number", "null"]},
    "o_orderdate": {"type": ["string", "null"], "format": "date-time"},
    "o_orderpriority": {"type": ["string", "null"]},
    "o_comment": {"type": ["string", "null"]},
    "updated_at": {"type": ["string", "null"], "format": "date-time"},
}
EVENTS_PROPS = {
    "event_id": {"type": "integer"},
    "ts": {"type": ["string", "null"], "format": "date-time"},
    "user_id": {"type": ["integer", "null"]},
    "event_type": {"type": ["string", "null"]},
    "value": {"type": ["number", "null"]},
    "props": {
        "type": ["object", "null"],
        "properties": {
            "k": {"type": ["integer", "null"]},
            "source": {"type": ["string", "null"]},
            "tags": {"type": ["array", "null"], "items": {"type": "string"}},
        },
    },
}
STREAM_PKS = {"orders": "o_orderkey", "events": "event_id"}
UPDATE_FRAC = 0.2  # share of the known keys each later batch re-sends
GROW_FRAC = 0.1  # new keys per later batch, as a share of batch 0


def _catalog() -> dict:
    def stream(name, props):
        return {
            "stream": name,
            "tap_stream_id": name,
            "schema": {"type": "object", "properties": props},
            "metadata": [
                {"breadcrumb": [], "metadata": {"table-key-properties": [STREAM_PKS[name]]}}
            ],
        }

    return {"streams": [stream("orders", ORDERS_PROPS), stream("events", EVENTS_PROPS)]}


@dataclass
class SyncBatch:
    root: str  # holds catalog.json and sync-output/
    rows: int
    bytes: int


def _ts_strings(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    """Naive ``YYYY-MM-DD HH:MM:SS.ffffff`` strings, as taps write them."""
    stamps = (base + offsets_us.astype("timedelta64[us]")).astype(str)
    return pa.array(np.char.replace(stamps, "T", " "))


def _orders_batch(rng, keys: np.ndarray, batch: int) -> pa.Table:
    n = len(keys)
    days = rng.integers(0, 2404, n)
    updated = rng.integers(0, _US_PER_DAY, n) + batch * _US_PER_DAY
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), (6, n))]
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, n),
        "o_orderstatus": _pick(rng, STATUS, n),
        "o_totalprice": _money(rng, 1000, 500_000, n),
        "o_orderdate": _ts_strings(_EPOCH_1995, days * _US_PER_DAY),
        "o_orderpriority": _pick(rng, PRIORITY, n),
        "o_comment": pc.binary_join_element_wise(*map(pa.array, words), " "),
        "updated_at": _ts_strings(_EPOCH_2024, updated),
    })


def _events_batch(rng, keys: np.ndarray, batch: int) -> pa.Table:
    n = len(keys)
    t = _events(rng, n)
    k = rng.integers(0, 100, n)
    # json.dumps({"k": k, "source": source, "tags": [f"t{k % 7}", f"b{batch}"]})
    props = pc.binary_join_element_wise(
        '{"k": ', _str(k), ', "source": "', _pick(rng, ["web", "ios", "android"], n),
        '", "tags": ["t', _str(k % 7), f'", "b{batch}"]}}', "",
    )
    return t.set_column(0, "event_id", pa.array(keys.astype(np.int64))).set_column(
        5, "props", props
    )


def write_sync_series(
    out_dir: str, seed: int, n_batches: int, orders0: int, events0: int
) -> list[SyncBatch]:
    """Write ``n_batches`` tap-output directories under ``out_dir``."""
    rng = np.random.default_rng(seed)
    catalog = json.dumps(_catalog())
    known = {"orders": np.arange(orders0), "events": np.arange(events0)}
    first = {"orders": orders0, "events": events0}
    out = []
    for b in range(n_batches):
        root = os.path.join(out_dir, f"batch_{b:03d}")
        sync = os.path.join(root, "sync-output")
        os.makedirs(sync, exist_ok=True)
        with open(os.path.join(root, "catalog.json"), "w", encoding="utf-8") as f:
            f.write(catalog)
        keys = {}
        for stream, ids in known.items():
            if b == 0:
                keys[stream] = ids
                continue
            upd = rng.choice(ids, int(len(ids) * UPDATE_FRAC), replace=False)
            new = np.arange(len(ids), len(ids) + int(first[stream] * GROW_FRAC))
            keys[stream] = rng.permutation(np.concatenate([upd, new]))
            known[stream] = np.concatenate([ids, new])
        orders = _orders_batch(rng, keys["orders"], b)
        events = _events_batch(rng, keys["events"], b)
        pacsv.write_csv(orders, os.path.join(sync, "orders.csv"))
        pq.write_table(events, os.path.join(sync, "events.parquet"))
        size = sum(
            os.path.getsize(os.path.join(sync, f)) for f in os.listdir(sync)
        )
        out.append(SyncBatch(root, orders.num_rows + events.num_rows, size))
    return out
