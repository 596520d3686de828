"""Seeded input generator for the benchmark workloads.

The repository's correctness fixtures are not part of the checkout, so the
benchmark synthesizes tables with the fixture schemas and value domains
(FIXTURES.md): the TPC-H-shaped star schema, the ``events`` stream table and the
``documents``/``embeddings`` corpora. Row counts scale with ``sf`` exactly as the
fixtures do (lineitem = 6M x sf). The same ``(seed, sf)`` always yields the same
bytes of data; only the layout on disk (part files, row groups) is chosen per
workload.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at sf=1; the fixtures hold sf x these
_ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
    "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
}
_EVENT_USERS_AT_SF1 = 15_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMB_DIM = 64


def _n(name: str, sf: float) -> int:
    """Rows of table ``name`` at scale ``sf``."""
    return max(1, int(round(_ROWS_AT_SF1[name] * sf)))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    codes = pa.array(idx, pa.int32())
    return pa.DictionaryArray.from_arrays(codes, pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _text(rng: np.random.Generator, n: int) -> list[str]:
    """Token soup over the fixture vocabulary; ~10% of documents are near-copies of
    an earlier one (a few tokens replaced), so the dedup rows find real pairs."""
    lens = rng.integers(10, 100, n)
    docs = [rng.choice(_VOCAB, size=k) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.1):
        src = docs[int(rng.integers(0, i))] if i else docs[0]
        copy = src.copy()
        edits = rng.integers(0, len(copy), max(1, len(copy) // 20))
        copy[edits] = rng.choice(_VOCAB, size=len(edits))
        docs[i] = copy
    return [" ".join(d) for d in docs]


def _region(rng, sf):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})


def _nation(rng, sf):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, sf):
    n = _n("customer", sf)
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })


def _supplier(rng, sf):
    n = _n("supplier", sf)
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, sf):
    n = _n("part", sf)
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN], n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, _PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def _orders(rng, sf):
    n = _n("orders", sf)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, _n("customer", sf), n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def _lineitem(rng, sf):
    n = _n("lineitem", sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, _n("orders", sf), n),
        "l_partkey": rng.integers(0, _n("part", sf), n),
        "l_suppkey": rng.integers(0, _n("supplier", sf), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 210000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def _events(rng, sf):
    n = _n("events", sf)
    users = max(1, int(round(_EVENT_USERS_AT_SF1 * sf)))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, sf):
    n = _n("documents", sf)
    text = _text(rng, n)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def _embeddings(rng, sf):
    n = _n("embeddings", sf)
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, _EMB_DIM))
    vec = 0.15 * centers[labels] + rng.normal(size=(n, _EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


_TABLES = {
    "region": _region, "nation": _nation, "customer": _customer, "supplier": _supplier,
    "part": _part, "orders": _orders, "lineitem": _lineitem, "events": _events,
    "documents": _documents, "embeddings": _embeddings,
}


def tables(seed: int, sf: float, names=tuple(_TABLES)) -> dict[str, pa.Table]:
    """The named tables for ``(seed, sf)`` as Arrow tables. Each table draws from
    its own seeded stream, so a table is the same whichever others are asked for."""
    order = list(_TABLES)
    return {n: _TABLES[n](np.random.default_rng([seed, order.index(n)]), sf) for n in names}


def write_table(tbl: pa.Table, path: str, parts: int = 0, row_group_rows: int | None = None,
                sort_by: str | None = None) -> None:
    """Write ``tbl`` as ``path`` (one parquet file) or, with ``parts >= 1``, as a
    directory of ``parts`` part files. ``row_group_rows`` sets the row-group size,
    ``sort_by`` clusters rows so footer min/max statistics can prune row groups."""
    if sort_by is not None:
        tbl = tbl.sort_by(sort_by)
    rg = row_group_rows or max(1, tbl.num_rows)
    if parts < 1:
        pq.write_table(tbl, path, row_group_size=rg)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // parts)
    for i in range(parts):
        pq.write_table(tbl.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=rg)


def write_fixture_dir(seed: int, sf: float, out_dir: str) -> None:
    """Write all ten tables as single files ``out_dir/<name>.parquet``, the layout
    of the repository's fixtures."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def dir_bytes(path: str) -> int:
    """Bytes of all regular files under ``path`` (a file's own size for a file)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass  # deferred deletes may unlink while we walk
    return total
