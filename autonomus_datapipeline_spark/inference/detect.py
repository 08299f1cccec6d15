"""End-to-end schema detection over real sources.

The reference's detection entry points (reference:
backend/app/services/schema_detection.py — files :439-604, Kafka sample
:40-165, API page :655-772) re-expressed over the engine's sources:

- sample ≤1000 rows from the FIRST file (matching the reference's
  first-file sampling), via Spark with everything read as strings so the
  voting heuristics see raw values
- validate every other file's column signature against the first, reading
  each file once (a header read for CSV), all files concurrently
- run the pure-function inference core + the 0.7/0.3 confidence formula
- the same record-level path serves REST samples and any list[dict]
  (the Kafka-probe analog: sample N messages → infer)
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import SparkSession

from autonomus_datapipeline_spark.inference.schema_inference import (
    InferenceResult,
    infer_dataframe_schema,
    overall_confidence,
    validate_multi_file,
)
from autonomus_datapipeline_spark.session import fan_out
from autonomus_datapipeline_spark.sources.files import FileSource

SAMPLE_ROWS = 1000  # reference schema_detection.py samples ≤1000 rows


def detect_records_schema(records: list[dict]) -> InferenceResult:
    """Infer from raw records (REST page / Kafka message sample analog)."""
    sample = records[:SAMPLE_ROWS]
    columns: list[str] = []
    for r in sample:
        for k in r:
            if k not in columns:
                columns.append(k)
    fields = infer_dataframe_schema(sample, columns)
    return InferenceResult(
        fields=fields,
        confidence=overall_confidence(fields, 1, 1),
        compatible_files=[],
        incompatible_files=[],
        sample_row_count=len(sample),
    )


def detect_file_schema(spark: SparkSession, source: FileSource) -> InferenceResult:
    """Infer from the first file of a source + multi-file compatibility.

    Every file is read once, with all columns as raw strings (CSV
    ``inferSchema=false``): the compatibility check compares column names
    only (reference schema_detection.py:527-579), so a CSV file costs one
    header read. The files are read concurrently (:func:`fan_out`), and the
    first file's read also collects the ≤1000-row sample — so sampling
    overlaps the other files' header reads. The reference's
    threshold-voting heuristics type the sample's raw values — including
    the cases Spark inference gets differently (comma-separated integers,
    y/n booleans, EU dates).
    """
    files = source.file_list()
    if not files:
        raise FileNotFoundError(f"no {source.fmt} files under {source.path}")
    if source.fmt == "csv":  # raw strings for the type voting
        source = replace(source, options={**source.options, "inferSchema": "false"})

    def read(i: int):
        df = source.one_file(files[i]).read(spark)
        if i:
            return df.columns, None
        rows = [r.asDict(recursive=True) for r in df.limit(SAMPLE_ROWS).collect()]
        return df.columns, (rows, infer_dataframe_schema(rows, df.columns))

    results = fan_out(spark, read, range(len(files)))
    sample_rows, fields = results[0][1]
    compatible, incompatible = validate_multi_file(
        {f: cols for f, (cols, _) in zip(files, results)}, files[0]
    )

    return InferenceResult(
        fields=fields,
        confidence=overall_confidence(fields, len(compatible), len(files)),
        compatible_files=compatible,
        incompatible_files=incompatible,
        sample_row_count=len(sample_rows),
    )
