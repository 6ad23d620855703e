"""Seeded synthetic tables for the registry workload.

Writes the ten parquet tables the registry queries read (``region`` ...
``embeddings``) with the column names, types and value ranges of the
engine's star-schema test data, scaled by ``sf`` (sf=1 -> 6M lineitem
rows).  The same ``(sf, seed)`` always writes the same bytes, so row
counts recorded for rows-only queries stay valid.

Usage: python3 perfbench/tables.py OUT_DIR [sf] [seed]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.38, 0.16, 0.15, 0.15, 0.16]
VOCAB = (
    "a the fast slow big small key value row column table data query scan "
    "filter join merge sort hash group agg order part line customer batch "
    "stream window spark vector dup"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    """Bag-of-words documents; about a tenth are edited copies of an
    earlier document so the near-duplicate operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pd.DataFrame:
    """Unit vectors scattered around one centre per label."""
    centres = rng.standard_normal((N_LABELS, EMBED_DIM))
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centres[label] * 0.6 + rng.standard_normal((n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": label,
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    # every customer places at least one order
    custkey = np.concatenate(
        [np.arange(min(n_cust, n_ord)), rng.integers(0, n_cust, max(0, n_ord - n_cust))]
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.permutation(custkey).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``OUT_DIR/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(sf, seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
        rows[name] = len(df)
    return rows


if __name__ == "__main__":
    out = sys.argv[1]
    sf_arg = float(sys.argv[2]) if len(sys.argv) > 2 else 0.001
    seed_arg = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    print(write_tables(out, sf_arg, seed_arg))
