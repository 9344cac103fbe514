"""Seeded TPC-H-ish tables for the curation workload.

Stands alone: it imports nothing from the program.  It writes the ten
parquet tables the program's table loader expects (one file each, the same
column names and arrow types as the engine's reference test data) with the
same value conventions: money rounded to cents, discounts and taxes on a
0.01 grid, whole quantities, microsecond timestamps without time zone, and
a word-soup document corpus of which about 5% are near-duplicates.
``scale`` is the TPC-H scale factor (0.01 gives 60,000 lineitem rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]


def _day_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(0, (np.datetime64(hi) - np.datetime64(lo)).astype(int), n)
    ts = np.datetime64(lo, "us") + days.astype("timedelta64[D]")
    return pa.array(ts, pa.timestamp("us"))


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # Which documents are near-duplicates, and of which original, is the
    # same for every seed: the duplicate graph (and so the number of rounds
    # the connected-components query runs) does not depend on the seed.
    shape = np.random.default_rng(7)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i > 20 and shape.random() < 0.05:
            # Near-duplicate of an earlier original: a few words swapped,
            # then the marker word; one in ten is an exact copy.
            base = texts[originals[int(shape.integers(0, len(originals)))]].split()
            if shape.random() >= 0.1:
                for j in rng.integers(0, len(base), max(1, len(base) // 20)):
                    base[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words = base + ["dup"]
        else:
            originals.append(i)
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    def ids(n):
        return pa.array(np.arange(n), i64)

    def pick(n, choices):
        return [choices[k] for k in rng.integers(0, len(choices), n)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }),
        "customer": pa.table({
            "c_custkey": ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
        }),
        "supplier": pa.table({
            "s_suppkey": ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": ids(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(
                pick(n_part, ["blue", "red", "hot", "cold", "old", "new", "small", "large"]),
                pick(n_part, ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "nut"]),
            )],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": pick(n_part, ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": ids(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(n_ord, ["O", "F", "P"]),
            "o_totalprice": _cents(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": pick(n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(n_line, ["A", "N", "R"]),
            "l_linestatus": pick(n_line, ["O", "F"]),
            "l_shipdate": _day_ts(rng, n_line, "1995-01-02", "2001-11-05"),
        }),
        "events": pa.table({
            "event_id": ids(n_events),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), n_events), i64),
            "event_type": pick(n_events, ["signup", "click", "error", "view", "purchase"]),
            "value": _cents(rng, n_events, 0.01, 500.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": pa.table({
            "vec_id": ids(n_vecs),
            "embedding": pa.array(
                list(rng.normal(0, 0.12, (n_vecs, 64)).astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
