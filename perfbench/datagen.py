"""Seeded star-schema generator: the catalog's ten tables as parquet.

The catalog reads ``region nation customer supplier part orders lineitem
events documents embeddings`` from one directory.  This module writes
them from a seed alone, with the value domains, row counts per scale
factor and column types the catalog and its DuckDB oracles expect:
every column is an independent uniform draw over its domain, keys are
dense ``0..n-1`` and every table is one single-row-group file, so each
scan is one task.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per table at scale factor 1 (documents/embeddings have a floor)
_ROWS_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
_FLOOR = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS_A = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_WORDS_B = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DATE_LO = datetime.date(1995, 1, 1)
ORDER_DATE_DAYS = 2405  # 1995-01-01 .. 2001-08-01
EVENT_T0 = datetime.datetime(2024, 1, 1)
EMBED_DIM = 64


def rows_at(table: str, sf: float) -> int:
    return max(int(round(_ROWS_SF1[table] * sf)), _FLOOR.get(table, 1))


def _days(base: datetime.date, offsets: np.ndarray) -> pa.Array:
    epoch = np.datetime64(base, "D") + offsets.astype("timedelta64[D]")
    return pa.array(epoch.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def draw_tables(
    rng: np.random.Generator, sf: float, only: tuple[str, ...] = ()
) -> dict[str, pa.Table]:
    """The keyed tables, or ``only`` those of them drawn before
    ``lineitem`` (customer, supplier, part, orders)."""
    n = {t: rows_at(t, sf) for t in _ROWS_SF1}
    users = max(int(round(15_000 * sf)), 15)

    ck = np.arange(n["customer"], dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    sk = np.arange(n["supplier"], dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": _names("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n["supplier"], dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    a = np.asarray(PART_WORDS_A, dtype=object)[rng.integers(0, 8, n["part"])]
    b = np.asarray(PART_WORDS_B, dtype=object)[rng.integers(0, 8, n["part"])]
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{x} {y}" for x, y in zip(a, b)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"], dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n["orders"], dtype=np.int64)
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(ORDER_DATE_LO, rng.integers(0, ORDER_DATE_DAYS, n["orders"])),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    if only:
        drawn = {"customer": customer, "supplier": supplier, "part": part, "orders": orders}
        return {t: drawn[t] for t in only}
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(ORDER_DATE_LO, rng.integers(1, ORDER_DATE_DAYS + 95, nl)),
    })
    ne = n["events"]
    t0 = np.datetime64(EVENT_T0, "us")
    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    events = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(t0 + micros.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    texts = []
    for length in rng.integers(8, 100, nd).tolist():
        words = [WORDS[i] for i in rng.integers(0, len(WORDS), length)]
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 1.0, (nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True) * 4
    embeddings = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv, dtype=np.int32),
    })
    return {
        "customer": customer, "supplier": supplier, "part": part,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``out_dir/<table>.parquet``; returns the row
    count of each.  Same (sf, seed) → same bytes."""
    rng = np.random.default_rng(seed)
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        **draw_tables(rng, sf),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(tbl.num_rows, 1)
        )
    return {name: tbl.num_rows for name, tbl in tables.items()}
