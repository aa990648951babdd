"""Deterministic generator for the benchmark's input tables.

Produces the ten tables the query registry reads (``region`` ...
``embeddings``) with the schemas and value distributions of the
engine's TPC-H-ish test corpus: uniform keys and measures, a 30-word
document vocabulary with 5% near-duplicate documents, unit-norm
64-dimensional embeddings. ``corpus_check.py`` compares the generated
tables with a copy of the corpus, property by property. Row content depends only on the scale
factor; the run seed only permutes row order. So every seed gives the
same result set (the oracle answers do not move), while the order rows
reach the engine does.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Content seed: fixed, so the multiset of rows is a function of sf only.
CONTENT_SEED = 42

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
# The eight tables the ETL landing zone holds, as in the reference.
LANDING_TABLES = TABLES[:8]

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf 1 = 6M lineitems)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return d.astype("datetime64[D]").astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(choices, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _keyed_names(prefix: str, n: int) -> np.ndarray:
    return np.array([f"{prefix}#{i:09d}" for i in range(n)], dtype=object)


def _documents(n: int, rng: np.random.Generator) -> dict:
    vocab = np.asarray(_VOCAB, dtype=object)
    lengths = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # 5% near-duplicates: another document's text plus a marker token
    dup_ids = rng.choice(n, n // 20, replace=False)
    bases = rng.integers(0, n, len(dup_ids))
    for i, b in zip(dup_ids, bases):
        if b == i:
            b = (b + 1) % n
        text[i] = text[b] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": text,
        "lang": np.asarray(_LANGS, dtype=object)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": np.array([f"src{i % 20}" for i in ids], dtype=object),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_table(name: str, sf: float) -> pa.Table:
    """The table's rows in canonical (key) order. Each table draws from
    its own stream, so generating a subset of tables gives the same
    rows as generating all of them."""
    n = row_counts(sf)
    rng = np.random.default_rng([CONTENT_SEED, TABLES.index(name)])
    k = n.get(name, 0)
    i32, i64 = np.int32, np.int64
    if name == "region":
        cols = {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(_REGIONS)}
    elif name == "nation":
        cols = {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    elif name == "customer":
        cols = {
            "c_custkey": np.arange(k, dtype=i64),
            "c_name": _keyed_names("Customer", k),
            "c_nationkey": rng.integers(0, 25, k).astype(i32),
            "c_acctbal": _money(-1000, 10000, k, rng),
            "c_mktsegment": _pick(_SEGMENTS, k, rng),
        }
    elif name == "supplier":
        cols = {
            "s_suppkey": np.arange(k, dtype=i64),
            "s_name": _keyed_names("Supplier", k),
            "s_nationkey": rng.integers(0, 25, k).astype(i32),
            "s_acctbal": _money(-1000, 10000, k, rng),
        }
    elif name == "part":
        names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
        cols = {
            "p_partkey": np.arange(k, dtype=i64),
            "p_name": _pick(names, k, rng),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], k, rng),
            "p_type": _pick(_PART_TYPES, k, rng),
            "p_size": rng.integers(1, 51, k).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
        }
    elif name == "orders":
        cols = {
            "o_orderkey": np.arange(k, dtype=i64),
            "o_custkey": rng.integers(0, n["customer"], k).astype(i64),
            "o_orderstatus": _pick(("F", "O", "P"), k, rng),
            "o_totalprice": _money(1000, 500000, k, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", k, rng),
            "o_orderpriority": _pick(_PRIORITIES, k, rng),
        }
    elif name == "lineitem":
        cols = {
            "l_orderkey": rng.integers(0, n["orders"], k).astype(i64),
            "l_partkey": rng.integers(0, n["part"], k).astype(i64),
            "l_suppkey": rng.integers(0, n["supplier"], k).astype(i64),
            "l_linenumber": rng.integers(1, 8, k).astype(i32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(900, 105000, k, rng),
            # rounded uniform: the end values carry half the weight
            "l_discount": np.round(rng.uniform(0, 0.1, k), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, k), 2),
            "l_returnflag": _pick(("A", "N", "R"), k, rng),
            "l_linestatus": _pick(("F", "O"), k, rng),
            "l_shipdate": _days("1995-01-02", "2001-11-04", k, rng),
        }
    elif name == "events":
        t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(i64)
        span = 30 * 86_400 * 1_000_000
        ts = np.sort(rng.integers(t0, t0 + span, k))
        cols = {
            "event_id": np.arange(k, dtype=i64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, max(1, round(15_000 * sf)), k).astype(i64),
            "event_type": _pick(_EVENT_TYPES, k, rng),
            "value": np.round(rng.exponential(50.0, k), 2),
            "props": _pick([f'{{"k": {i}}}' for i in range(100)], k, rng),
        }
    elif name == "documents":
        cols = _documents(k, rng)
    elif name == "embeddings":
        return _embeddings(k, rng)
    else:
        raise ValueError(f"unknown table {name!r}")
    return pa.table(cols)


def shuffled(table: pa.Table, name: str, seed: int) -> pa.Table:
    """Same rows, in an order set by ``seed`` (and the table name)."""
    perm = np.random.default_rng([seed, TABLES.index(name)]).permutation(
        table.num_rows
    )
    return table.take(pa.array(perm))


def write_parquet_tables(
    out_dir: str, sf: float, seed: int, tables=TABLES
) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` (one file, one row group per
    table, like the corpus the queries were written against). Returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for t in tables:
        tbl = shuffled(build_table(t, sf), t, seed)
        pq.write_table(
            tbl, os.path.join(out_dir, f"{t}.parquet"),
            row_group_size=max(1, tbl.num_rows),
        )
        rows[t] = tbl.num_rows
    return rows


def write_landing_csv(
    parquet_dir: str, landing_dir: str, tables=LANDING_TABLES
) -> dict[str, int]:
    """Land each parquet table as one headed CSV file, written outside
    the engine (DuckDB, single writer thread so the bytes are a pure
    function of the input rows). Quotes inside fields are escaped with a
    backslash, the dialect the engine's CSV reader expects by default.
    Returns bytes per file."""
    import duckdb

    os.makedirs(landing_dir, exist_ok=True)
    sizes = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for t in tables:
            src = os.path.join(parquet_dir, f"{t}.parquet")
            dst = os.path.join(landing_dir, f"{t}.csv")
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{src}')) TO '{dst}' "
                "(HEADER, DELIMITER ',', ESCAPE '\\', "
                "TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S.%f')"
            )
            sizes[t] = os.path.getsize(dst)
    finally:
        con.close()
    return sizes

