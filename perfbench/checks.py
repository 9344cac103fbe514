"""Output checks.  Every mismatch counts as one failed operation.

- API responses: HTTP 200 with ``success``, per-type row counts and the
  column set equal to the payload's manifest.
- Batch outputs: metadata ``items_by_type``, CSV row count and the schema
  report's field set equal to the corpus manifest.
- Registry queries: the canonical value hash of the result equals the hash
  of the DuckDB oracle's answer over the same tables.  The canonical form is
  the one the repository's oracle-parity tests use: columns sorted, every
  cell tagged with its type class (so ``1`` and ``1.0`` differ), NaN as
  null, rows sorted by ``repr``.
- Streaming drains: the drained rows hash the same on every pass.

``self_test`` plants one wrong answer of each kind and requires each to be
caught (and one right answer to pass).
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os


def _canon_cell(v):
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        return _canon_cell(v.item())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        return None if math.isnan(v) else ("f", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, str):
        return ("s", v)
    return v


def value_hash(pdf) -> str:
    """Order-insensitive, type-aware hash of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(_canon_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def rows_hash(rows) -> str:
    """Order-insensitive hash of Spark rows (streaming drain outputs)."""
    return hashlib.sha256(repr(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()


def check_api_response(status: int, body: dict | None, expected: dict) -> str | None:
    """``expected`` is ``{"items_by_type": …, "columns": [...]}``; returns
    the reason for a mismatch, or None."""
    if status != 200 or not body or not body.get("success"):
        return f"status {status}"
    counts: dict[str, int] = {}
    for row in body.get("data", []):
        counts[row.get("type")] = counts.get(row.get("type"), 0) + 1
    if counts != expected["items_by_type"]:
        return f"items {counts} != {expected['items_by_type']}"
    if sorted(body.get("types", {})) != sorted(expected["columns"]):
        return "column set differs"
    return None


def check_batch_output(out_dir: str, metadata: dict, manifest) -> str | None:
    """Compare one ``run_batch`` output directory with the corpus manifest."""
    want = manifest.items_by_type()
    if metadata.get("items_by_type") != want:
        return f"metadata items {metadata.get('items_by_type')} != {want}"
    n_rows = 0
    for path in glob.glob(os.path.join(out_dir, "cleaned_output", "*.csv")):
        with open(path, newline="", encoding="utf-8") as f:
            n_rows += max(0, sum(1 for _ in csv.reader(f)) - 1)
    if n_rows != sum(want.values()):
        return f"csv rows {n_rows} != {sum(want.values())}"
    with open(os.path.join(out_dir, "dynamic_schema.json"), encoding="utf-8") as f:
        fields = set(json.load(f))
    if fields != manifest.schema_fields():
        return "schema fields differ"
    return None


def self_test(tmp_dir: str) -> dict:
    """Plant one wrong answer per check and confirm each is caught."""
    import pandas as pd

    from gen_docs import Manifest

    planted = caught = 0

    good = pd.DataFrame({"k": [1, 2], "v": [0.5, None]})
    planted += 1
    caught += value_hash(good) != value_hash(pd.DataFrame({"k": [1, 2], "v": [0.500001, None]}))
    planted += 1
    caught += value_hash(good) != value_hash(good.astype({"k": "float64"}))

    expected = {"items_by_type": {"html": 3, "json": 1}, "columns": ["type", "source_index", "total_items", "a"]}
    rows = [{"type": "html"}] * 3 + [{"type": "json"}]
    types = dict.fromkeys(expected["columns"], "string")
    false_alarms = check_api_response(200, {"success": True, "data": rows, "types": types}, expected) is not None
    planted += 1
    caught += check_api_response(200, {"success": True, "data": rows[1:], "types": types}, expected) is not None

    m = Manifest(html=3, json=1, keys={"a"})
    out = os.path.join(tmp_dir, "selftest_batch")
    os.makedirs(os.path.join(out, "cleaned_output"), exist_ok=True)
    with open(os.path.join(out, "cleaned_output", "part-0.csv"), "w") as f:
        f.write("type,source_index,total_items,a\n" + "html,html_0,4,\n" * 3)  # one row short
    with open(os.path.join(out, "dynamic_schema.json"), "w") as f:
        json.dump(dict.fromkeys(m.schema_fields(), {}), f)
    planted += 1
    caught += check_batch_output(out, {"items_by_type": m.items_by_type()}, m) is not None

    planted += 1
    caught += rows_hash([(1, "a"), (2, "b")]) != rows_hash([(1, "a"), (2, "c")])
    return {"planted": planted, "caught": int(caught), "false_alarms": int(false_alarms)}
