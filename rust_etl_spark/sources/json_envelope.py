"""JSON envelope source + the reference's transform core, end-to-end
(/root/reference/src/processor.rs:17-97 ``process_json_to_parquet``).

Reads a staged JSON document (either a root-level record array or an
envelope object whose ``root_path`` key holds the records), normalizes
it into a flat relational frame, applies column hygiene and codepoint
decoding, and refuses to produce output for empty tables.

Spark mapping notes:
- ``multiLine=true`` because government-API payloads are single JSON
  documents, not JSON-lines. Schema inference reads the whole
  document; the reference's 1000-record inference cap
  (processor.rs:24-27) is not applied.
- The empty-table guard (processor.rs:31-35) reads the schema, not the
  rows, so inference and the write are the only parses: zero records
  (``[]``, an empty file, whitespace) always infer ``struct<>``, as do
  ``{}``, ``[{}]``, ``[null]`` and ``null``. ``explode_outer`` and the
  struct flatten never drop a row, so a frame left with no column after
  ``drop_technical`` (also an envelope of pagination keys only) is the
  one case to refuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rust_etl_spark.errors import SchemaError
from rust_etl_spark.operators.decode import decode_codepoint_arrays
from rust_etl_spark.operators.normalize import (
    TECHNICAL_COLUMNS,
    drop_technical,
    normalize_envelope,
)


def read_json_document(spark: SparkSession, path: str) -> DataFrame:
    """Scan a staged JSON document (one object or array) with schema
    inference."""
    return spark.read.option("multiLine", "true").json(path)


def process_json_document(
    spark: SparkSession,
    path: str,
    *,
    root_path: str | None = None,
    technical_columns: tuple[str, ...] = TECHNICAL_COLUMNS,
) -> DataFrame:
    """The full processor.rs transform chain as one declarative plan:

    scan -> dtype-dispatched normalize (explode_outer / struct flatten)
    -> drop technical columns -> empty guard -> decode codepoint
    arrays. Caller writes the result (sink stays separate so the same
    transform serves batch files, streams, and tests).
    """
    df = read_json_document(spark, path)
    if df.columns == ["_corrupt_record"]:
        # Unparseable JSON: the reader produced only the corrupt-record
        # column (parity: reference JsonReader error -> ProcessorError).
        raise SchemaError(f"unparseable JSON document {path!r}")
    df = drop_technical(normalize_envelope(df, root_path), technical_columns)
    if not df.schema.fields:
        raise SchemaError(f"json document {path!r} has no records or no data columns: refusing to write output")
    return decode_codepoint_arrays(df)


def write_parquet(df: DataFrame, dest: str) -> None:
    """Snappy parquet sink (processor.rs:78-91). Spark always writes
    min/max/null-count column statistics; Snappy is the session
    default — exact parity with the reference's StatisticsOptions."""
    df.write.mode("overwrite").parquet(dest)
