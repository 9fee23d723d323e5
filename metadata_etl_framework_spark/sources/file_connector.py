"""File source/sink: csv / json / parquet, local + object stores.

Parity targets (reference):
- FileConnector.read   src/connectors/file_connector.py:104-201
- FileConnector.write  src/connectors/file_connector.py:203-333
- get_schema           src/connectors/file_connector.py:335-348

Spark-first notes: the reference hand-rolled boto3/Blob/GCS/HDFS clients
per scheme; Spark reads the same formats through the Hadoop FS layer, so
``s3a://``, ``abfss://``, ``gs://``, ``hdfs://`` URIs work with the SAME
reader code — nothing scheme-specific lives here. Excel has no native
Spark reader; it is bridged through pandas on the driver (small files
only, as in the reference).

Extraction runs no Spark job. Without a schema, ``DataFrameReader.load``
infers a parquet source's schema with a Spark job
(``mergeSchemasInParallel``), even for one file. :func:`read_files`, the
one file reader here, hands the reader the schema Spark would infer,
read on the driver from one parquet footer through Spark's own
converter (:func:`parquet_footer_schema`), so building the
``{source: DataFrame}`` dict only plans. The footer is the one Spark's
``ParquetUtils.inferSchema`` reads: a ``_common_metadata`` or
``_metadata`` summary at the root if one exists, else the first data
file by path, skipping ``_``/``.`` names (hive partition directories
included). It is read on every call: nothing is memoized. Hive-style
partition columns are still inferred from the paths; Spark appends them
to a given schema. The reader infers as before when one footer cannot
stand for the read: a caller-given ``schema``, ``mergeSchema`` (option
or session conf), a file-filter option (``pathGlobFilter``,
``recursiveFileLookup``, ``modifiedBefore``, ``modifiedAfter``), or no
data file (Spark's own "Unable to infer schema" error stays).
"""

from __future__ import annotations

from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_json_string
from pyspark.sql.utils import to_str

_FORMATS = {"csv", "json", "parquet", "orc", "text"}

# reader options that change the file set from Spark's listing: one
# footer cannot stand for the read
_FILE_FILTERS = {
    "pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter",
}
# one path component Spark lists: no "_"/"." name, except a "_k=v"
# partition directory (InMemoryFileIndex.shouldFilterOut)
_VISIBLE = "{[!_.]*,_*=*}"
# JVM classes are looked up by full name, ``getattr(jvm, name)``: one
# py4j lookup, where an attribute chain (``jvm.org.apache...``) first
# tries each package prefix as a class, about 10 ms a chain
_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."


def _footer_file(fs, jvm, path: str):
    """The ``FileStatus`` whose footer Spark's schema inference reads
    for ``path`` (a file, a directory or a glob), or None when there is
    no data file. One ``globStatus`` per directory level, whatever the
    number of files; ``globStatus`` returns its matches sorted by path,
    the order Spark sorts the listing in."""
    Path = getattr(jvm, "org.apache.hadoop.fs.Path")
    level = fs.globStatus(Path(path))
    if not level:
        return None
    if len(level) == 1 and level[0].isDirectory():
        # _common_metadata sorts first, as Spark prefers it
        summaries = fs.globStatus(Path(f"{path}/{{_common_metadata,_metadata}}"))
        if summaries:
            return summaries[0]
    pattern = path
    while not level[0].isFile():
        pattern += "/" + _VISIBLE
        level = fs.globStatus(Path(pattern))
        if not level:
            return None
    return level[0]


def parquet_footer_schema(
    spark: SparkSession, path: str, options: dict[str, Any]
) -> "StructType | None":
    """The schema ``spark.read.parquet(path)`` would infer, read on the
    driver from one footer with Spark's ``ParquetToSparkSchemaConverter``
    (so ``nanosAsLong``, INT96, NTZ inference and a Spark-written
    file's stored schema all resolve as Spark resolves them), with no
    Spark job. None where Spark must infer: see the module docstring."""
    opts = {k.lower(): to_str(v) for k, v in options.items()}
    jss, jvm = spark._jsparkSession, spark._jvm
    conf = jss.sessionState().conf()
    merge = opts.get("mergeschema")
    if opts.keys() & _FILE_FILTERS or (
        conf.isParquetSchemaMergingEnabled() if merge is None else merge.lower() == "true"
    ):
        return None
    # the reader's Hadoop conf (SessionState.newHadoopConfWithOptions):
    # options may carry object-store credentials
    hconf = jss.sessionState().newHadoopConf()
    for k, v in options.items():
        if k not in ("path", "paths") and v is not None:
            hconf.set(k, to_str(v))
    try:
        fs = getattr(jvm, "org.apache.hadoop.fs.Path")(path).getFileSystem(hconf)
        status = _footer_file(fs, jvm, path)
        if status is None:
            return None
        skip_row_groups = getattr(
            jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        ).SKIP_ROW_GROUPS
        footer = getattr(jvm, "org.apache.parquet.hadoop.Footer")(
            status.getPath(),
            getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader").readFooter(
                hconf, status, skip_row_groups
            ),
        )
        # the converter Spark's inference builds
        # (ParquetFileFormat.mergeSchemasInParallel): five flags from the
        # session conf; case sensitivity, field ids and the variant
        # annotation at their conf defaults
        defaults = getattr(getattr(jvm, _PARQUET + "ParquetToSparkSchemaConverter$"), "MODULE$")
        case_sensitive, field_ids, ignore_variant = (
            getattr(defaults, f"$lessinit$greater$default${i}")() for i in (3, 6, 7)
        )
        converter = getattr(jvm, _PARQUET + "ParquetToSparkSchemaConverter")(
            conf.isParquetBinaryAsString(),
            conf.isParquetINT96AsTimestamp(),
            case_sensitive,
            conf.parquetInferTimestampNTZEnabled(),
            conf.legacyParquetNanosAsLong(),
            field_ids,
            ignore_variant,
            conf.parquetReaderRespectUnknownTypeAnnotation(),
        )
        jschema = getattr(jvm, _PARQUET + "ParquetFileFormat").readSchemaFromFooter(
            footer, converter
        )
    except Py4JJavaError:
        # an unreadable footer: let the reader infer and raise its own error
        return None
    return _parse_datatype_json_string(jschema.json())


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: Any | None = None,
    **options: Any,
) -> DataFrame:
    """Every file read under ``sources/``: a parquet read without a
    schema gets :func:`parquet_footer_schema`'s, so it plans without a
    Spark job."""
    if schema is None and fmt == "parquet":
        schema = parquet_footer_schema(spark, path, options)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).format(fmt).load(path)


def _infer_format(path: str, fmt: str | None) -> str:
    if fmt:
        return fmt.lower()
    suffix = path.rstrip("/").rsplit(".", 1)[-1].lower()
    if suffix in _FORMATS or suffix in {"xlsx", "xls"}:
        return "excel" if suffix in {"xlsx", "xls"} else suffix
    return "parquet"


class FileConnector:
    """Reads/writes files of any supported format on any Hadoop-visible FS."""

    def __init__(self, spark: SparkSession, options: dict[str, Any] | None = None):
        self.spark = spark
        self.options = options or {}

    def read(
        self,
        path: str,
        fmt: str | None = None,
        schema: Any | None = None,
        **options: Any,
    ) -> DataFrame:
        fmt = _infer_format(path, fmt)
        opts = {**self.options, **options}
        if fmt == "excel":
            return self._read_excel(path, **opts)
        if fmt == "csv":
            opts.setdefault("header", "true")
            opts.setdefault("inferSchema", "true" if schema is None else "false")
        return read_files(self.spark, path, fmt, schema, **opts)

    def write(
        self,
        df: DataFrame,
        path: str,
        fmt: str | None = None,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        **options: Any,
    ) -> None:
        """Write with mode ∈ {overwrite, append, ignore, errorifexists}.

        ``partition_by`` produces hive-style partition directories — the
        scale path for incremental pruning at 100 TB.
        """
        fmt = _infer_format(path, fmt)
        if fmt == "excel":
            self._write_excel(df, path, **options)
            return
        writer = df.write.mode(mode).options(**{**self.options, **options})
        if fmt == "csv":
            writer = writer.option("header", "true")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(fmt).save(path)

    def get_schema(self, path: str, fmt: str | None = None) -> dict[str, Any]:
        """Schema sample in the reference's ``{"columns": [...]}`` shape."""
        df = self.read(path, fmt)
        return {
            "columns": df.columns,
            "fields": [
                {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
                for f in df.schema.fields
            ],
        }

    # ---------------------------------------------- object management
    # (reference cloud_connector.py:334-389 — list/delete per cloud SDK;
    # here ONE Hadoop FileSystem code path serves file://, s3a://,
    # abfss://, gs://, hdfs:// identically)

    def _fs_and_path(self, path: str):
        sc = self.spark.sparkContext
        hpath = getattr(sc._jvm, "org.apache.hadoop.fs.Path")(path)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        return fs, hpath

    def list_objects(self, path: str, recursive: bool = False) -> list[str]:
        """Object/file listing under a URI prefix (any Hadoop-visible FS)."""
        fs, hpath = self._fs_and_path(path)
        if not fs.exists(hpath):
            return []
        out: list[str] = []
        it = fs.listFiles(hpath, recursive)
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return sorted(out)

    def object_exists(self, path: str) -> bool:
        fs, hpath = self._fs_and_path(path)
        return bool(fs.exists(hpath))

    def delete_object(self, path: str, recursive: bool = False) -> bool:
        """Delete a file or (with recursive) a directory tree; False when
        the path didn't exist."""
        fs, hpath = self._fs_and_path(path)
        if not fs.exists(hpath):
            return False
        return bool(fs.delete(hpath, recursive))

    def _read_excel(self, path: str, **opts: Any) -> DataFrame:
        try:
            import pandas as pd
        except ImportError as e:  # pragma: no cover
            raise RuntimeError("pandas required for excel reads") from e
        pdf = pd.read_excel(path, sheet_name=opts.get("sheet_name", 0))
        return self.spark.createDataFrame(pdf)

    # default guard: xlsx is a driver-side single-file format; a silent
    # multi-GB toPandas() is an OOM, so the cap is explicit and overridable
    EXCEL_MAX_ROWS = 1_000_000

    def _write_excel(self, df: DataFrame, path: str, **opts: Any) -> None:
        """Driver-side xlsx sink (reference: file_connector.py:203-333).

        Size-guarded: counts first and refuses beyond ``max_rows`` (also
        Excel's own sheet limit is ~1,048,576 rows). Requires openpyxl —
        import-gated with a clear error."""
        max_rows = int(opts.pop("max_rows", self.EXCEL_MAX_ROWS))
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"excel sink refuses {n} rows (> {max_rows}); xlsx is a "
                "driver-side format — write parquet/csv for data this size"
            )
        try:
            import openpyxl  # noqa: F401
        except ImportError as e:
            raise RuntimeError(
                "openpyxl required for excel writes (pip install openpyxl)"
            ) from e
        sheet = opts.pop("sheet_name", "Sheet1")
        df.toPandas().to_excel(path, sheet_name=sheet, index=False, **opts)
