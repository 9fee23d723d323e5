"""Parquet table loader that tolerates nanosecond timestamps.

Spark's parquet reader rejects INT64 TIMESTAMP(NANOS) columns
(PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
is set, in which case the column surfaces as a raw long of epoch
nanoseconds. This loader inspects the parquet footer (driver-side
metadata read — O(KB), scale-independent) to find ns-unit timestamp
columns and rebuilds them as proper TimestampType columns via integer
division to microseconds (floor semantics, matching DuckDB's
TIMESTAMP_NS → TIMESTAMP cast).

This is the single entry point tests / bench / the driver contract use
to load ``<sf_dir>/<name>.parquet``. Like ``FileConnector.read`` it reads
through ``file_connector.read_files``, so a load plans without Spark's
schema-inference job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from metadata_etl_framework_spark.sources.file_connector import read_files


def _ns_timestamp_columns(path: str) -> list[str]:
    """Columns stored as timestamp[ns] in the parquet footer."""
    try:
        import pyarrow.dataset as pads
        import pyarrow.types as patypes
    except ImportError:  # pragma: no cover
        return []
    schema = pads.dataset(path, format="parquet").schema
    return [
        f.name
        for f in schema
        if patypes.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file/dir, restoring ns-timestamp columns.

    The ns→us conversion uses ``div`` (long integer division, no double
    round-trip — epoch-ns exceeds double's 53-bit mantissa).
    """
    ns_cols = _ns_timestamp_columns(path)
    if ns_cols:
        # runtime-settable SQL conf — covers sessions not built by
        # session.get_spark (e.g. the driver's own harness session); set
        # before read_files reads the footer, whose converter reads it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_files(spark, path, "parquet")
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet surfaces as
    # TIMESTAMP_NTZ, which event-time streaming (watermarks,
    # dropDuplicatesWithinWatermark) rejects. Sessions here pin UTC, so
    # the NTZ→LTZ cast preserves wall-clock values while restoring the
    # TimestampType every downstream operator expects.
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named test table from a scale-factor directory."""
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")
