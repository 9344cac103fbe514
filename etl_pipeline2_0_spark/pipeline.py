"""The end-to-end pipeline (reference ``ETLPipeline.run``, etl_pipeline.py:382-430).

Five stages, as one lazily-built DataFrame DAG per sink action:

  read (S1/S2) → detect (E1–E5) → extract (E6–E11) → schema report (A4)
  → normalize (P1–P3, U1, W1) → load (S5–S8)

Unlike the reference (eager, single-threaded, one file at a time), every
stage here is a DataFrame transform over a *corpus* — one job processes a
directory of any size, partitioned by file.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline2_0_spark.operators.detect import detect_blocks
from etl_pipeline2_0_spark.operators.extract import KIND_ORDER, extract_records
from etl_pipeline2_0_spark.operators.partitioning import ensure_min_parallelism, reuse
from etl_pipeline2_0_spark.operators.normalize import (
    normalize_union,
    sorted_output,
    union_by_name,
)
from etl_pipeline2_0_spark.operators.schema_report import infer_schema_report
from etl_pipeline2_0_spark.sinks.load import load_outputs
from etl_pipeline2_0_spark.sources.documents import (
    documents_from_strings,
    read_documents,
)


def _extracted_union(
    spark: SparkSession,
    docs: DataFrame,
    infer_max_bodies: int | None,
    target: int | None = None,
) -> DataFrame:
    """detect → extract over ``docs``: the pre-drop union (U1, kind order
    html→json→text→media) of the per-kind record frames."""
    docs = ensure_min_parallelism(docs, target=target)
    detected = detect_blocks(docs)
    per_kind = extract_records(spark, detected, infer_max_bodies=infer_max_bodies)
    return union_by_name([per_kind[k] for k in KIND_ORDER])


def transform_documents(
    spark: SparkSession,
    docs: DataFrame,
    per_document: bool = False,
    with_report: bool = True,
    infer_max_bodies: int | None = None,
) -> tuple[DataFrame, dict[str, Any] | None]:
    """detect → extract → schema report → normalize, no sinks.

    Returns (normalized table with provenance columns, schema report).

    ``with_report=False`` skips the A4 schema report — the report is an
    EAGER aggregation (one full pipeline execution), so query paths that
    only need the normalized table should opt out and keep the whole thing
    one lazy DAG.  With the report, W1 reuses its row total; without it,
    W1 counts with a broadcast join.
    """
    pre_drop = _extracted_union(spark, docs, infer_max_bodies)
    report, total = None, None
    if with_report:
        report, items_by_type = infer_schema_report(pre_drop)
        total = sum(items_by_type.values())
    normalized = normalize_union(
        pre_drop, per_document=per_document, keep_provenance=True, total_items=total
    )
    return normalized, report


def run_batch(
    spark: SparkSession,
    input_path: str | None = None,
    payloads: list[str] | None = None,
    out_dir: str | None = None,
    use_rowstore: bool = False,
    per_document: bool = False,
    infer_max_bodies: int | None = None,
) -> dict[str, Any]:
    """Entry points 1 (CLI batch) and 4 (HTTP payload) of SURVEY.md §3.

    Returns ``{"normalized": DataFrame, "schema": report, "items_by_type":
    {kind: rows}, "metadata": ...}``; writes the reference's output files
    when ``out_dir`` is given.

    ``normalized`` reads the extracted records from executor blocks that
    the schema report's job filled, so the caller's own actions on it
    (the API's collect) do not run detect+extract again.  The blocks stay
    as long as the caller holds ``normalized``, and are reclaimed with it.
    """
    start = datetime.now(timezone.utc)
    target = None
    if payloads is not None:
        docs = documents_from_strings(spark, payloads)
        # The document count is KNOWN here: widening a 2-payload API call to
        # cluster parallelism would run dozens of empty tasks per stage
        # (pure scheduler overhead on the latency-sensitive HTTP path).  One
        # document cannot be split below one row anyway, so cap at the
        # payload count.
        target = min(max(1, len(payloads)), spark.sparkContext.defaultParallelism)
    elif input_path is not None:
        docs = read_documents(spark, input_path)
    else:
        raise ValueError("one of input_path / payloads is required")

    # Several actions read the union: the schema report (which also yields
    # the per-type and total row counts), then every sink or the caller's
    # collect.  ``reuse`` lets the report's job materialize it once, so
    # detect+extract runs once per run, not once per action.
    pre_drop = reuse(_extracted_union(spark, docs, infer_max_bodies, target=target))
    report, items_by_type = infer_schema_report(pre_drop)
    normalized = normalize_union(
        pre_drop,
        per_document=per_document,
        keep_provenance=True,
        total_items=sum(items_by_type.values()),
    )
    result: dict[str, Any] = {
        "normalized": normalized,
        "schema": report,
        "items_by_type": items_by_type,
    }
    if out_dir is not None:
        result["metadata"] = load_outputs(
            sorted_output(normalized),
            report,
            out_dir,
            source_name=input_path or "<payload>",
            items_by_type=items_by_type,
            start_time=start,
            use_rowstore=use_rowstore,
        )
    return result
