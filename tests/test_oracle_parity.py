"""Driver-contract parity: every ``queries()`` entry vs its DuckDB oracle.

This mimics the external driver's correctness gate (row count + sorted-column
schema + order-insensitive values) at sf0.001 so parity breaks are caught
locally before a round runs.  Comparison is EXACT (no float tolerance) —
the queries are engineered for bit-identical results (decimal-exact sums,
string-formatted timestamps, pre-rounded floats).
"""

from __future__ import annotations

import contextlib
import math

import duckdb
import pytest

import __spark_entry__ as entrymod
from etl_pipeline2_0_spark.operators.partitioning import no_reuse
from etl_pipeline2_0_spark.plans.registry import ALL_QUERIES
from etl_pipeline2_0_spark.sources.tables import TABLES

SQL_QUERIES = sorted(name for name, (_, sql) in ALL_QUERIES.items() if sql)
ROWS_ONLY_QUERIES = sorted(name for name, (_, sql) in ALL_QUERIES.items() if not sql)
# Oracled queries built through the functions whose ``reuse`` barriers
# plan tests lift: each must give the oracle's answer with every barrier
# lifted, so no result depends on where the barriers sit.
NO_REUSE_QUERIES = [
    "ann_hubness", "bitext_mine", "bitext_recall", "bm25_rm3_topk",
    "corpus_overlap", "cross_source_dedup_matrix", "decontam_report",
    "dedup_canonical", "dedup_incremental", "dedup_keep_best",
    "dedup_manifest", "dup_components", "embed_dim_stats",
    "jaccard_histogram", "label_noise_matrix", "lsh_geometry_sweep",
    "minhash_decontam", "minhash_est_error", "minhash_pairs_portable",
    "minhash_precision", "minhash_recall", "multimodal_neardup_recall",
    "ngram_jaccard", "pack_waste_curve", "priority_sample_curve",
    "quality_length_bias", "retrieval_ndcg_rm3", "rm3_expansion",
    "simhash_recall", "soft_dedup", "t_closeness_audit", "winnow_recall",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    # Type-AWARE canonicalization (round-3 lesson): the external driver's
    # value hash distinguishes 1 (int) from 1.0 (float) — Python `==` does
    # not, which let a Spark-DOUBLE vs DuckDB-TINYINT skew (math_funcs.sgn)
    # pass locally for two rounds while staying red on the driver.  Each
    # cell is tagged with a type class so cross-engine dtype drift fails
    # here first.
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar → python scalar, then re-tag
        return _canon_cell(v.item())
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, str):
        return ("s", v)
    return v


def _canon(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    return cols, sorted(rows, key=repr)


@pytest.mark.parametrize(
    "name, barriers",
    [pytest.param(n, True, id=n) for n in SQL_QUERIES]
    + [pytest.param(n, False, id=f"{n}-no_reuse") for n in NO_REUSE_QUERIES],
)
def test_query_matches_oracle(spark, sf_dir, duck, name, barriers):
    fn, sql = ALL_QUERIES[name]
    with contextlib.nullcontext() if barriers else no_reuse():
        df = fn(spark, sf_dir)
    spark_pd = df.toPandas()
    oracle_pd = duck.sql(sql).fetchdf()
    assert len(spark_pd) == len(oracle_pd), (
        f"{name}: row count {len(spark_pd)} != oracle {len(oracle_pd)}"
    )
    s_cols, s_rows = _canon(spark_pd)
    o_cols, o_rows = _canon(oracle_pd)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != {o_cols}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_canon_is_type_aware():
    # Planted fixture: identical values, different types, MUST differ.
    import pandas as pd

    a = pd.DataFrame({"x": [1, 0, -1]}).astype("int8")       # DuckDB TINYINT
    b = pd.DataFrame({"x": [1.0, 0.0, -1.0]})                # Spark DOUBLE
    assert _canon(a) != _canon(b), "harness must distinguish 1 from 1.0"
    assert _canon(a) == _canon(a.astype("int64")), "int width is not skew"


def _canon_golden_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, 6)
    if isinstance(v, (bytes, bytearray)):
        return list(v)
    if isinstance(v, list):
        return [_canon_golden_cell(x) for x in v]
    if hasattr(v, "item"):
        return _canon_golden_cell(v.item())
    return v


def rows_only_canon(pdf):
    """(sorted columns, canon rows sorted by repr) — the golden convention."""
    cols = sorted(pdf.columns)
    rows = sorted(
        ([_canon_golden_cell(v) for v in r]
         for r in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return cols, rows


def rows_hash(rows) -> str:
    """Canonical digest of the canon-row list (the compact golden form)."""
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps(rows, default=str, separators=(",", ":")).encode()
    ).hexdigest()


def check_rows_only_golden(pdf, golden_path: str, name: str) -> None:
    """Compare a rows-only query result against a committed golden.

    Two formats: full-value ``{"columns", "rows"}`` (sf0.001 — debuggable
    diffs) and compact ``{"columns", "n_rows", "hash"}`` (bigger SFs — the
    same drift detection at ~1/1000th the repo weight)."""
    import json

    with open(golden_path) as f:
        golden = json.load(f)
    cols, rows = rows_only_canon(pdf)
    assert cols == golden["columns"], f"{name}: columns {cols}"
    if "rows" in golden:
        assert len(rows) == len(golden["rows"]), (
            f"{name}: {len(rows)} rows vs golden {len(golden['rows'])}"
        )
        mismatch = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(rows, golden["rows"]))
            if a != b
        ]
        assert not mismatch, f"{name}: first mismatches {mismatch[:3]}"
    else:
        assert len(rows) == golden["n_rows"], (
            f"{name}: {len(rows)} rows vs golden {golden['n_rows']}"
        )
        assert rows_hash(rows) == golden["hash"], (
            f"{name}: canonical value hash drifted from the pinned golden"
        )


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_matches_golden(spark, sf_dir, name):
    # No DuckDB twin exists for these (engine-specific xxhash64 / pandas-UDF
    # stages), but they ARE deterministic by design — so their output is
    # value-pinned in a committed golden (full values at sf0.001, count+hash
    # at sf0.01; sf0.1 pins run in the sf01 job).  Regenerate with
    # tools/regen_goldens.py after an intentional semantic change.
    import os

    fn, _ = ALL_QUERIES[name]
    pdf = fn(spark, sf_dir).toPandas()
    assert len(pdf.columns) > 0
    suffix = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    dirname = "rows_only" if suffix == "0.001" else f"rows_only_sf{suffix}"
    golden_path = os.path.join(
        os.path.dirname(__file__), "goldens", dirname, f"{name}.json"
    )
    if not os.path.exists(golden_path):
        assert len(pdf) > 0
        return
    check_rows_only_golden(pdf, golden_path, name)


# OpenBLAS kernels, with the cpuinfo flag a CPU needs to run each.
_BLAS_KERNELS = {"Sandybridge": "avx", "Haswell": "avx2", "SkylakeX": "avx512f"}


def test_phash_goldens_do_not_depend_on_blas_kernel(spark, sf_dir, tmp_path):
    # The image/video pHash rows are value-pinned, so the hashes must be a
    # function of the pixels alone.  Their DCT runs through BLAS, whose
    # kernels round differently; hash the same payloads in subprocesses
    # pinned to each kernel and require identical results.
    import os
    import pickle
    import subprocess
    import sys

    from etl_pipeline2_0_spark.functions import multimodal
    from etl_pipeline2_0_spark.plans import llm_multimodal as LMM

    with open("/proc/cpuinfo") as f:
        flags = set(f.read().split())
    kernels = [k for k, flag in _BLAS_KERNELS.items() if flag in flags]
    if len(kernels) < 2:
        pytest.skip(f"this CPU runs only {kernels} of the OpenBLAS kernels")
    images = LMM._synth_bmp_media(spark, sf_dir, modulo=2)
    frames = multimodal.sample_frames(
        LMM._synth_bmps_media(spark, sf_dir), every_nth=1
    )
    payloads = [bytes(r.payload) for r in images.collect()]
    payloads += [bytes(r.frame_payload) for r in frames.collect()]
    path = tmp_path / "payloads.pkl"
    path.write_bytes(pickle.dumps(payloads))
    script = (
        "import pickle, sys\n"
        "from etl_pipeline2_0_spark.functions.multimodal import phash64\n"
        "payloads = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "print([phash64(b) for b in payloads])\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hashes = {}
    for kernel in kernels:
        env = dict(os.environ, OPENBLAS_CORETYPE=kernel, PYTHONPATH=root)
        hashes[kernel] = subprocess.run(
            [sys.executable, "-c", script, str(path)],
            env=env, capture_output=True, text=True, check=True,
        ).stdout
    assert len(payloads) > 100
    assert len(set(hashes.values())) == 1, {
        k: v[:200] for k, v in hashes.items()
    }


def test_hash_golden_has_teeth(tmp_path):
    # Planted drift: a single changed cell must flip the canonical hash
    # (and a changed row count must fail before the hash is consulted).
    import json

    import pandas as pd

    pdf = pd.DataFrame({"a": [1, 2], "b": [0.5, None]})
    cols, rows = rows_only_canon(pdf)
    golden = tmp_path / "g.json"
    golden.write_text(
        json.dumps({"columns": cols, "n_rows": len(rows), "hash": rows_hash(rows)})
    )
    check_rows_only_golden(pdf, str(golden), "planted")  # identical → passes
    drifted = pd.DataFrame({"a": [1, 2], "b": [0.500001, None]})
    with pytest.raises(AssertionError, match="hash drifted"):
        check_rows_only_golden(drifted, str(golden), "planted")
    with pytest.raises(AssertionError, match="rows vs golden"):
        check_rows_only_golden(pdf.iloc[:1], str(golden), "planted")


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"type", "n_records", "total_items"}


def test_queries_oracle_keys_consistent():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(ALL_QUERIES)
