"""Seeded input generators. The same seed gives the same inputs.

Every generator returns plain numpy / pandas / pyarrow data; the workloads
hand it to the engine. The engine never sees the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# snapshot_scan: a partitioned table with one bulk commit and a long tail
# --------------------------------------------------------------------------


def scan_bulk_rows(rng: np.random.Generator, parts: int, files_per_part: int, rows_per_file: int) -> pd.DataFrame:
    """Rows of the bulk commit. Partition ``p`` holds ``files_per_part`` files;
    ``ts`` rises along each partition, so every file covers one time slice
    and a ``ts`` range predicate prunes by file stats alone."""
    per_part = files_per_part * rows_per_file
    n = parts * per_part
    p = np.repeat(np.arange(parts, dtype=np.int32), per_part)
    ts = np.tile(np.arange(per_part, dtype=np.int64), parts) * parts + p
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "p": p,
            "ts": ts,
            "v": rng.integers(0, 1000, n, dtype=np.int64),
            "c": np.zeros(n, dtype=np.int32),
        }
    )


def scan_tail_rows(rng: np.random.Generator, commit: int, part: int, first_id: int, ts0: int, rows: int) -> pd.DataFrame:
    """Rows of tail commit ``commit``: all in partition ``part``, newer ``ts``."""
    return pd.DataFrame(
        {
            "id": np.arange(first_id, first_id + rows, dtype=np.int64),
            "p": np.full(rows, part, dtype=np.int32),
            "ts": np.arange(ts0, ts0 + rows, dtype=np.int64),
            "v": rng.integers(0, 1000, rows, dtype=np.int64),
            "c": np.full(rows, commit, dtype=np.int32),
        }
    )


# --------------------------------------------------------------------------
# upsert_ingest: micro-batches of (k, val, payload)
# --------------------------------------------------------------------------

PAYLOAD_LEN = 24
_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))


def payloads(rng: np.random.Generator, n: int) -> list[str]:
    chars = rng.choice(_ALPHABET, size=(n, PAYLOAD_LEN))
    return ["".join(row) for row in chars]


def ingest_rows(rng: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame(
        {
            "k": np.asarray(keys, dtype=np.int64),
            "val": rng.integers(0, 1 << 40, n, dtype=np.int64),
            "payload": payloads(rng, n),
        }
    )


def user_bytes(df: pd.DataFrame) -> int:
    """Bytes of user data in a batch: 8 per integer field plus the payload."""
    return int(len(df) * 16 + df["payload"].str.len().sum())


# --------------------------------------------------------------------------
# pipeline_queries: the catalog's star schema + events, documents, embeddings
# --------------------------------------------------------------------------

_WORDS = (
    "the a data table row column key value join merge sort hash scan filter "
    "group agg order line part query batch stream window spark fast slow big "
    "small customer vector index page block"
).split()
_PART_WORDS = ["cold", "small", "large", "blue", "old", "new", "red", "tiny"]
_PART_NOUNS = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]


def _ts(rng, n, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86_400, n).astype("timedelta64[s]").astype("timedelta64[us]")


def pipeline_tables(rng: np.random.Generator, lineitems: int) -> dict[str, pa.Table]:
    """The ten catalog tables at ``lineitems`` lineitem rows (TPC-H ratios)."""
    n_orders = lineitems // 4
    n_cust = max(lineitems // 40, 10)
    n_part = max(lineitems // 30, 10)
    n_supp = max(lineitems // 600, 5)
    n_docs = max(lineitems // 12, 50)
    n_events = max(lineitems // 6, 100)
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": rng.choice(
                ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"], n_cust
            ).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{rng.choice(_PART_WORDS)} {rng.choice(_PART_NOUNS)}" for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n_part
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
            "o_orderdate": pa.array(_ts(rng, n_orders, "1995-01-01", 2500)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ).tolist(),
        }
    )
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, lineitems, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, lineitems, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, lineitems, dtype=np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, lineitems), 2)),
            "l_discount": pa.array(rng.integers(0, 11, lineitems) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, lineitems) / 100.0),
            "l_returnflag": rng.choice(["N", "A", "R"], lineitems).tolist(),
            "l_linestatus": rng.choice(["O", "F"], lineitems).tolist(),
            "l_shipdate": pa.array(_ts(rng, lineitems, "1995-01-02", 2500)),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(np.sort(_ts(rng, n_events, "2024-01-01", 30))),
            "user_id": pa.array(rng.integers(0, 15, n_events, dtype=np.int64)),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_events).tolist(),
            "value": pa.array(np.round(rng.uniform(0, 200, n_events), 2)),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: the dedup queries' input
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(_WORDS))
        else:
            words = rng.choice(_WORDS, int(rng.integers(20, 90))).tolist()
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": rng.choice(["en", "fr", "es", "zh", "de"], n_docs).tolist(),
            "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.5, (n_docs, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return t


def write_pipeline_tables(rng: np.random.Generator, out_dir: str, lineitems: int) -> dict[str, int]:
    """Write one parquet file per table; returns bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in pipeline_tables(rng, lineitems).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = os.path.getsize(path)
    return sizes
