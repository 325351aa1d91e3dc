"""Seeded synthetic input tables for the benchmark.

Writes the ten tables ``catalog.TESTDATA_TABLES`` names, one
single-row-group parquet file each, with the schemas and value domains
of the engine's star-schema test data: TPC-H-like facts and
dimensions, a clickstream ``events`` table, a ``documents`` corpus
drawn from a 31-word vocabulary (so documents share most shingles) and
64-d unit ``embeddings`` around ten labelled centres.

Row counts scale linearly with ``sf``; at ``sf=0.1`` lineitem has
600,000 rows.  The same ``(sf, seed)`` always yields identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf=1
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "hot", "new", "blue", "large", "small", "green", "old"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "nut", "gear", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data spark stream batch table column row key value query "
    "filter join merge sort hash scan group agg window order line part "
    "customer vector fast slow big small"
).split()
EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "us")


def _rows(name: str, sf: float) -> int:
    return max(10, int(round(ROWS_AT_SF1[name] * sf)))


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = (np.datetime64(start, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    hi = (np.datetime64(end, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    micros = rng.integers(lo, hi + 1, n) * _US_PER_DAY
    return pa.array(micros, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = _rows("customer", sf), _rows("supplier", sf), _rows("part", sf)
    n_ord, n_li = _rows("orders", sf), _rows("lineitem", sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": _ids(n_cust),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": _ids(n_supp),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table({
        "p_partkey": _ids(n_part),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": _ids(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t["events"] = events_table(_rows("events", sf), max(10, n_cust // 10), rng)
    t["documents"] = documents_table(_rows("documents", sf), rng)
    t["embeddings"] = embeddings_table(_rows("embeddings", sf), rng)
    return t


def fold_into_year(table: pa.Table, column: str, first_day: str) -> pa.Table:
    """``table`` with the dates of ``column`` folded (day offset modulo
    365) into the 365 days from ``first_day``."""
    start = (np.datetime64(first_day, "D") - np.datetime64("1970-01-01", "D")).astype(int)
    days = table[column].cast(pa.int64()).to_numpy() // _US_PER_DAY
    folded = (start + (days - start) % 365) * _US_PER_DAY
    return table.set_column(table.schema.get_field_index(column), column,
                            pa.array(folded, pa.timestamp("us")))


def events_table(n: int, n_users: int, rng) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    start = (np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64)
    return pa.table({
        "event_id": _ids(n),
        "ts": pa.array(start + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents_table(n: int, rng) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(VOCAB), rng.integers(8, 100))])
             for _ in range(n)]
    # exact copies of another document at the rate of the engine's own
    # sf0.1 test corpus, which has 8 among its 5,000 documents (0.16%)
    # and no near copies (none within three replaced words)
    picks = rng.choice(n, size=max(1, round(n * 0.0016)), replace=False)
    for j, i in enumerate(picks):
        words[i] = list(words[(i + 1 + j) % n])
    texts = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": _ids(n),
        "text": texts,
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def unit_mixture(rng, n: int, n_centres: int = 10, spread: float = 0.6):
    """(vectors float32 [n, EMB_DIM] unit-norm, labels) — a Gaussian
    mixture around ``n_centres`` random unit centres."""
    centres = rng.standard_normal((n_centres, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_centres, n)
    v = centres[labels] + spread * rng.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def embeddings_table(n: int, rng) -> pa.Table:
    return vectors_table(*unit_mixture(rng, n))


def vectors_table(v: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": _ids(len(v)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        # one row group per file, like the engine's test data
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
