"""Seeded input generation for the benchmark workloads.

Everything the program reads comes from here, derived from one integer
seed: the same seed gives byte-identical inputs. The tables mirror the
shape of the engine's fixture tables (column names, physical types, value
ranges and one row group per file), so every registered query and its
DuckDB oracle run on them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a table
    never shifts the values of another."""
    return np.random.default_rng([seed, sum(stream.encode())])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _us(days: np.ndarray, base: int) -> pa.Array:
    return pa.array(base + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def documents(seed: int, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; about 5% are a
    near-duplicate of an earlier document (its text plus ``" dup"``) and a
    few are exact copies, so the dedup operators find real clusters."""
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten fixture-shaped tables at scale ``sf`` into
    ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    rng = _rng(seed, "customer")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    rng = _rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    rng = _rng(seed, "part")
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    rng = _rng(seed, "orders")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _us(rng.integers(0, 2404, n_ord), _EPOCH_1995),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    rng = _rng(seed, "lineitem")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _us(rng.integers(1, 2500, n_line), _EPOCH_1995),
        }
    )
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + _EPOCH_2024
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_evt), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    tables["documents"] = documents(seed, n_docs)
    rng = _rng(seed, "embeddings")
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def write_backlog(seed: int, out_dir: str, n_files: int, docs_per_file: int) -> pa.Table:
    """A stream backlog: ``n_files`` parquet files of documents, each doc
    hashed to one file. Returns the whole backlog as one table (the batch
    twin the stream's sink is checked against)."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(seed, n_files * docs_per_file)
    slot = _rng(seed, "backlog").permutation(docs.num_rows) % n_files
    for f in range(n_files):
        _write(docs.filter(pa.array(slot == f)), os.path.join(out_dir, f"part-{f:04d}.parquet"))
    return docs


EVENT_SCHEMA = "event_id long, user_id long, event_type string, value_cents long"


def event_batches(seed: int, n_batches: int, rows: int) -> list[pd.DataFrame]:
    """In-memory event batches for the ingest passes. Values are whole
    cents so every aggregate the check sums is exact."""
    rng = _rng(seed, "ingest")
    out = []
    for b in range(n_batches):
        out.append(
            pd.DataFrame(
                {
                    "event_id": np.arange(b * rows, (b + 1) * rows, dtype=np.int64),
                    "user_id": rng.integers(0, 1_000, rows, dtype=np.int64),
                    "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
                    "value_cents": rng.integers(0, 100_000, rows, dtype=np.int64),
                }
            )
        )
    return out
