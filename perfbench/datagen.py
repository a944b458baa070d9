"""Benchmark inputs: a fixed synthetic base dataset and its seeded re-layout.

The base tables are the ones the workloads read. They follow the schemas
and value domains of the engine's test layout (FIXTURES.md): a TPC-H-like
star schema and a text corpus. Their values come from a fixed generator
seed, so every op's result is the same for every benchmark seed and can be
pinned. The benchmark seed only changes the physical layout: rows are
permuted and each table is split into several files with several row
groups each, so scans run as parallel tasks. Results of the
layout-independent ops are identical on every layout.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: generator seed of the base values; the benchmark seed never reaches it
BASE_SEED = 42
#: scale factor of the base tables
SF = 0.1

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "orders",
    "lineitem",
    "documents",
)

#: rows per unit of scale factor; region and nation are fixed-size
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
}

#: tables at least this large are split into FILES_PER_TABLE files of
#: ROW_GROUPS_PER_FILE row groups; smaller ones stay a single file
SPLIT_MIN_ROWS = 1_000
FILES_PER_TABLE = 4
ROW_GROUPS_PER_FILE = 3
#: marker of a finished table directory (readers skip "_" files)
READY = "_READY"
#: seed copies kept on disk per scale factor, the one in use included
CACHED_SEEDS = 4

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _rows(name: str) -> int:
    return max(1, int(round(ROWS_PER_SF[name] * SF)))


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # near duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def base_tables() -> dict[str, pa.Table]:
    """The base dataset at scale factor SF; a pure function of SF."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n = _rows("customer")
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
        }
    )
    n_cust = n
    n = _rows("supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n_supp = n
    n = _rows("orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
        }
    )
    n_ord = n
    n = _rows("lineitem")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    t["documents"] = _documents(rng, _rows("documents"))
    return t


def multiset_digest(table: pa.Table) -> str:
    """Order-insensitive digest of a table's rows (a multiset hash)."""
    df = table.to_pandas()
    for c in df.columns:
        if df[c].dtype == object and len(df) and not isinstance(df[c].iloc[0], str):
            df[c] = df[c].map(lambda v: np.asarray(v).tobytes().hex())
    row_hashes = np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())
    return hashlib.sha256(row_hashes.tobytes()).hexdigest()


def _write(table: pa.Table, path: str, n_files: int, groups_per_file: int) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // groups_per_file))
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=rg)


def relayout(table: pa.Table, path: str, seed: int) -> None:
    """Write ``table`` under directory ``path`` with rows permuted by ``seed``."""
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    table = table.take(pa.array(perm))
    if table.num_rows >= SPLIT_MIN_ROWS:
        _write(table, path, FILES_PER_TABLE, ROW_GROUPS_PER_FILE)
    else:
        _write(table, path, 1, 1)


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))


def check_table(name: str, table: pa.Table, path: str) -> None:
    """Raise unless the files under ``path`` hold exactly the rows of
    ``table``: the row count from the parquet metadata first, then the
    row multiset."""
    files = parquet_files(path)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    if rows != table.num_rows:
        raise RuntimeError(f"{name}: {rows} rows on disk, base has {table.num_rows}")
    back = pa.concat_tables(pq.read_table(f) for f in files)
    if multiset_digest(back) != multiset_digest(table):
        raise RuntimeError(f"{name}: row multiset differs from the base")


def _prune(parent: str, keep: str) -> None:
    """Delete all but the CACHED_SEEDS most recently made seed copies."""
    if not os.path.isdir(parent):
        return
    copies = [d for d in os.listdir(parent) if d.startswith("seed") and d != keep]
    copies.sort(key=lambda d: os.path.getmtime(os.path.join(parent, d)), reverse=True)
    for d in copies[CACHED_SEEDS - 1:]:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def prepare(root: str, seed: int | None, tables=TABLES) -> str:
    """Return a directory holding ``tables`` at SF, laid out by ``seed``.

    ``seed=None`` keeps the base layout: one file with one row group per
    table, in generation order. Each table is written once under ``root``,
    checked against the base rows, and reused while its marker file exists;
    only the CACHED_SEEDS most recent seed copies are kept.
    """
    label = "base" if seed is None else f"seed{seed}"
    sf_dir = os.path.join(root, f"sf{SF}", label)
    _prune(os.path.dirname(sf_dir), keep=label)
    todo = [t for t in tables if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet", READY))]
    if not todo:
        return sf_dir
    base = base_tables()
    for name in todo:
        path = os.path.join(sf_dir, f"{name}.parquet")
        shutil.rmtree(path, ignore_errors=True)
        if seed is None:
            _write(base[name], path, 1, 1)
        else:
            relayout(base[name], path, seed)
        check_table(name, base[name], path)
        open(os.path.join(path, READY), "w").close()
    return sf_dir
