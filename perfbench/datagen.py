"""Seeded input tables for the benchmark.

The tables have the schema and value distributions of the repository's
star-schema test corpus (TPC-H-like ``region .. lineitem`` plus
``events``, ``documents`` and ``embeddings``), at a chosen scale factor;
at sf 0.1 ``lineitem`` has 600,000 rows. One fixed base data set is
generated per scale factor. Seed 0 is the base unchanged; any other seed
is a same-size replica of it:

- every key family is shifted by a seeded offset (a multiple of 100, so
  ``key % 10`` / ``key % 100`` predicates select the same rows and the
  supplier and customer+1,000,000 graph ids never collide);
- the rows of every table are shuffled;
- document words are renamed by a seeded permutation of the vocabulary
  within words of equal length, so shingles change while text lengths
  stay the same and the grep patterns' hit rates about the same.

Only the generated parquet files reach the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor
_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
         "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
         "users": 15_000, "documents": 50_000, "embeddings": 20_000}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_NOUN = ["ring", "bolt", "plate", "rod", "anvil", "gear", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "zh", "de", "es", "fr"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
_BASE_SEED = 42
_EMBED_DIM = 64


def _n(table: str, sf: float) -> int:
    return max(1, int(round(_ROWS[table] * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The fixed base data set at scale factor ``sf``."""
    rng = np.random.default_rng(_BASE_SEED)
    ncust, nsupp, npart = _n("customer", sf), _n("supplier", sf), \
        _n("part", sf)
    nord, nli = _n("orders", sf), _n("lineitem", sf)
    pick = lambda vals, n: np.asarray(vals, dtype=object)[  # noqa: E731
        rng.integers(0, len(vals), n)]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(ncust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
        "c_nationkey": rng.integers(0, 25, ncust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, ncust),
        "c_mktsegment": pick(_SEGMENTS, ncust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(nsupp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
        "s_nationkey": rng.integers(0, 25, nsupp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, nsupp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, npart),
                                              pick(_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": pick(_PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(
            900 + (np.arange(npart) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(nord, dtype=np.int64),
        "o_custkey": rng.integers(0, ncust, nord),
        "o_orderstatus": pick(["F", "O", "P"], nord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, nord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", nord),
        "o_orderpriority": pick(_PRIORITIES, nord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, nord, nli),
        "l_partkey": rng.integers(0, npart, nli),
        "l_suppkey": rng.integers(0, nsupp, nli),
        "l_linenumber": rng.integers(1, 8, nli).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nli).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nli),
        "l_discount": rng.integers(0, 11, nli) / 100,
        "l_tax": rng.integers(0, 9, nli) / 100,
        "l_returnflag": pick(["A", "N", "R"], nli),
        "l_linestatus": pick(["F", "O"], nli),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nli)})
    nev = _n("events", sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, nev))
    t["events"] = pa.table({
        "event_id": np.arange(nev, dtype=np.int64),
        "ts": pa.array(start + offs, pa.timestamp("us")),
        "user_id": rng.integers(0, _n("users", sf), nev),
        "event_type": pick(_EVENT_TYPES, nev),
        "value": np.round(rng.exponential(50.0, nev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)]})
    ndoc = _n("documents", sf)
    texts: list[str] = []
    dup = rng.random(ndoc) < 0.05
    for i in range(ndoc):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": np.arange(ndoc, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, ndoc),
        "source": [f"src{i % 20}" for i in range(ndoc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nvec = _n("embeddings", sf)
    vec = rng.standard_normal((nvec, _EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nvec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nvec).astype(np.int32)})
    return t


# key columns shifted together per family (see module docstring)
_KEY_COLS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"]}


def _word_permutation(rng) -> dict[str, str]:
    by_len: dict[int, list[str]] = {}
    for w in VOCAB:
        by_len.setdefault(len(w), []).append(w)
    out: dict[str, str] = {}
    for words in by_len.values():
        out.update(zip(words, rng.permutation(words)))
    return out


def variant(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Seed ``seed``'s replica of ``base`` (seed 0: ``base`` itself)."""
    if seed == 0:
        return base
    rng = np.random.default_rng([_BASE_SEED, seed])
    offset = int(rng.integers(1, 1000)) * 10_000_000
    rename = _word_permutation(rng)
    out = {}
    for name, tab in base.items():
        for col in _KEY_COLS.get(name, []):
            i = tab.schema.get_field_index(col)
            shifted = np.asarray(tab[col].to_numpy()) + offset
            tab = tab.set_column(i, col, pa.array(shifted, pa.int64()))
        if name == "documents":
            text = [" ".join(rename.get(w, w) for w in s.split(" "))
                    for s in tab["text"].to_pylist()]
            tab = tab.set_column(tab.schema.get_field_index("text"),
                                 "text", pa.array(text, pa.string()))
        out[name] = tab.take(rng.permutation(tab.num_rows))
    return out


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``, one row group
    per file."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, tab.num_rows))
