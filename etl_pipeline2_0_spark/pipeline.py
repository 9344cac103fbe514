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
from etl_pipeline2_0_spark.operators.partitioning import ensure_min_parallelism
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
    one lazy DAG.
    """
    docs = ensure_min_parallelism(docs)
    detected = detect_blocks(docs)
    per_kind = extract_records(spark, detected, infer_max_bodies=infer_max_bodies)
    pre_drop = union_by_name([per_kind[k] for k in KIND_ORDER])
    report = infer_schema_report(pre_drop) if with_report else None
    normalized = normalize_union(
        pre_drop, per_document=per_document, keep_provenance=True
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

    Returns ``{"normalized": DataFrame, "schema": report, "metadata": ...}``;
    writes the reference's output files when ``out_dir`` is given.
    """
    start = datetime.now(timezone.utc)
    parallelism_cap = None
    if payloads is not None:
        docs = documents_from_strings(spark, payloads)
        # The document count is KNOWN here: widening a 2-payload API call to
        # cluster parallelism would run dozens of empty tasks per stage
        # (pure scheduler overhead on the latency-sensitive HTTP path).  One
        # document cannot be split below one row anyway, so cap at the
        # payload count.
        parallelism_cap = max(1, len(payloads))
    elif input_path is not None:
        docs = read_documents(spark, input_path)
    else:
        raise ValueError("one of input_path / payloads is required")

    # Multi-action run (schema report + per-type counts + N sinks): persist
    # the ONE shared frame — the pre-drop union — so detect+extract executes
    # once, not once per action.  MEMORY_AND_DISK: extracted records are far
    # smaller than raw input, but spillable if not.
    from pyspark import StorageLevel

    if parallelism_cap is not None:
        target = min(parallelism_cap, spark.sparkContext.defaultParallelism)
        docs = ensure_min_parallelism(docs, target=target)
    else:
        docs = ensure_min_parallelism(docs)
    detected = detect_blocks(docs)
    per_kind = extract_records(spark, detected, infer_max_bodies=infer_max_bodies)
    pre_drop = union_by_name([per_kind[k] for k in KIND_ORDER]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        report = infer_schema_report(pre_drop)
        normalized = normalize_union(
            pre_drop, per_document=per_document, keep_provenance=True
        )
        items_by_type = {
            r["type"]: r["count"]
            for r in normalized.groupBy("type").count().collect()
        }
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
    finally:
        pre_drop.unpersist()
