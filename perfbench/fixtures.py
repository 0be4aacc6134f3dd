"""Seeded generator of the TPC-H-ish fixture tables the program reads.

The tables have the schemas and value domains of the repository's test
fixtures (FIXTURES.md): region, nation, customer, supplier, part, orders,
lineitem, events, documents and embeddings, one single-row-group parquet
file each. Row counts scale with ``sf`` the way the fixtures do (lineitem
is 6M x sf rows). The same seed always gives byte-identical inputs.

``orders_rows`` and ``events_rows`` generate any key range of the two
feed tables on their own, so the polling workloads can land deltas past
the end of the staged table and still get the same rows from the same
seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_SHIP_EPOCH = np.datetime64("1995-01-02", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_EVENT_SPAN_US = 30 * _DAY_US
EMBED_DIM = 64


def sizes(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    orders = max(150, int(1_500_000 * sf))
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _rng(seed: int, *tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tag])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch, rng, span: int, n: int) -> pa.Array:
    return pa.array(epoch + rng.integers(0, span, n) * _DAY_US, pa.timestamp("us"))


def orders_rows(seed: int, lo: int, hi: int, n_customers: int) -> pa.Table:
    """Orders with keys ``[lo, hi)``; every key's row depends only on the
    seed and the key, so any range can be generated independently."""
    cols = {"o_orderkey": [], "o_custkey": [], "o_orderstatus": [], "o_totalprice": [],
            "o_orderdate": [], "o_orderpriority": []}
    # blocks of 1000 keys: a range's rows do not depend on where it starts
    for block in range(lo // 1000, (hi - 1) // 1000 + 1 if hi > lo else lo // 1000):
        rng = _rng(seed, 1, block)
        b = np.arange(block * 1000, block * 1000 + 1000, dtype=np.int64)
        custkey = rng.integers(0, n_customers, 1000)
        status = rng.choice(["F", "O", "P"], 1000)
        price = _money(rng, 1000.0, 500_000.0, 1000)
        date = _ORDER_EPOCH + rng.integers(0, 2404, 1000) * _DAY_US
        prio = rng.choice(PRIORITIES, 1000)
        keep = (b >= lo) & (b < hi)
        for name, values in (("o_orderkey", b), ("o_custkey", custkey), ("o_orderstatus", status),
                             ("o_totalprice", price), ("o_orderdate", date),
                             ("o_orderpriority", prio)):
            cols[name].append(values[keep])
    return pa.table(
        {
            "o_orderkey": pa.array(np.concatenate(cols["o_orderkey"]), pa.int64()),
            "o_custkey": pa.array(np.concatenate(cols["o_custkey"]), pa.int64()),
            "o_orderstatus": pa.array(np.concatenate(cols["o_orderstatus"])),
            "o_totalprice": pa.array(np.concatenate(cols["o_totalprice"])),
            "o_orderdate": pa.array(np.concatenate(cols["o_orderdate"]), pa.timestamp("us")),
            "o_orderpriority": pa.array(np.concatenate(cols["o_orderpriority"])),
        }
    )


def events_rows(seed: int, lo: int, hi: int, n_events: int, n_users: int) -> pa.Table:
    """Events with ids ``[lo, hi)``. Timestamps grow with the id (one slot
    of ``30 days / n_events`` per event, jittered inside the slot), so the
    newest event id is always its user's latest event."""
    ids = np.arange(lo, hi, dtype=np.int64)
    gap = _EVENT_SPAN_US // max(1, n_events)
    users, kinds, values, props, jitter = [], [], [], [], []
    for block in range(lo // 1000, (hi - 1) // 1000 + 1 if hi > lo else lo // 1000):
        rng = _rng(seed, 2, block)
        b = np.arange(block * 1000, block * 1000 + 1000, dtype=np.int64)
        keep = (b >= lo) & (b < hi)
        users.append(rng.integers(0, n_users, 1000)[keep])
        kinds.append(rng.choice(EVENT_TYPES, 1000)[keep])
        values.append(np.maximum(0.01, np.round(rng.exponential(50.0, 1000), 2))[keep])
        k = rng.integers(0, 100, 1000).astype(str)
        props.append(np.char.add(np.char.add('{"k": ', k), "}")[keep])
        jitter.append(rng.integers(0, max(1, gap), 1000)[keep])
    ts = _EVENT_EPOCH + ids * gap + (np.concatenate(jitter) if jitter else 0)
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(np.concatenate(users) if users else [], pa.int64()),
            "event_type": pa.array(np.concatenate(kinds) if kinds else [], pa.string()),
            "value": pa.array(np.concatenate(values) if values else [], pa.float64()),
            "props": pa.array(np.concatenate(props) if props else [], pa.string()),
        }
    )


def n_users(sf: float) -> int:
    return max(10, int(15_000 * sf))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 0.14 / np.sqrt(EMBED_DIM), (10, EMBED_DIM)) * np.sqrt(EMBED_DIM)
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n = sizes(sf)
    rng = _rng(seed, 0)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, p), " "),
                                  rng.choice(PART_NOUN, p)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
        }
    )
    tables["orders"] = orders_rows(seed, 0, n["orders"], c)
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": _days(_SHIP_EPOCH, rng, 2499, li),
        }
    )
    tables["events"] = events_rows(seed, 0, n["events"], n["events"], n_users(sf))
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_table(table: pa.Table, path: str) -> None:
    """One single-row-group parquet file, written under a temporary name and
    renamed into place so a directory-scanning reader never sees it half
    written."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def stage(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

