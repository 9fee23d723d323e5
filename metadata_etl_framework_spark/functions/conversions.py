"""Type-conversion operators.

Parity targets (reference):
- typeconversion (step)  src/transform/transform_engine.py:155-176
- convert_to_numeric     src/transform/transformation_library.py:299-331
- convert_to_datetime    src/transform/transformation_library.py:333-366
- convert_to_string      src/transform/transformation_library.py:368-400

Reference semantics: lossy casts null-out unparseable values
(``errors='coerce'``). Spark 4 runs ANSI mode by default, where a plain
``cast``/``to_timestamp`` RAISES on malformed input — the coercing
converters therefore use ``try_cast`` / ``try_to_timestamp``, which
return null regardless of ANSI setting. ``convert_types`` (the
typeconversion step) keeps the strict cast: the reference's ``astype``
raises on failure too, so strict-raise is the parity behavior there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# dtype-string aliases accepted in step configs (pandas/polars spellings
# included so reference configs run unchanged).
_TYPE_ALIASES = {
    "int": "int", "int32": "int", "int64": "bigint", "bigint": "bigint",
    "long": "bigint", "float": "float", "float32": "float",
    "float64": "double", "double": "double", "str": "string",
    "string": "string", "utf8": "string", "bool": "boolean",
    "boolean": "boolean", "date": "date", "datetime": "timestamp",
    "datetime64[ns]": "timestamp", "timestamp": "timestamp",
    "decimal": "decimal(18,2)",
}


def normalize_dtype(dtype: str) -> str:
    return _TYPE_ALIASES.get(dtype.lower(), dtype.lower())


def convert_types(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Cast ``{column: dtype}``; dtype accepts pandas/polars/Spark spellings."""
    cols = {c: F.col(c).cast(normalize_dtype(t)) for c, t in mapping.items()}
    return df.withColumns(cols)


def convert_to_numeric(df: DataFrame, column: str, dtype: str = "double") -> DataFrame:
    """Lossy numeric cast; unparseable values become null (coerce)."""
    return df.withColumn(column, F.col(column).try_cast(normalize_dtype(dtype)))


def convert_to_datetime(df: DataFrame, column: str, fmt: str | None = None) -> DataFrame:
    """Parse to timestamp with optional format; failures become null.

    ``fmt`` uses Spark datetime patterns (e.g. ``yyyy-MM-dd``); the step
    compiler translates common strptime patterns before calling this.
    """
    parsed = (
        F.try_to_timestamp(F.col(column), F.lit(fmt))
        if fmt
        else F.try_to_timestamp(F.col(column))
    )
    return df.withColumn(column, parsed)


def convert_to_string(df: DataFrame, column: str) -> DataFrame:
    return df.withColumn(column, F.col(column).cast("string"))


def parse_json_column(
    df: DataFrame,
    column: str,
    schema: str | None = None,
    flatten: bool = True,
    prefix: str | None = None,
    drop_source: bool = False,
) -> DataFrame:
    """Parse a JSON string column into typed fields.

    Schema is inferred from ONE sampled non-null value when not given
    (``schema_of_json`` — a bounded driver probe, never a full scan;
    pass an explicit DDL schema for corpora with heterogeneous keys).
    Malformed rows parse to null fields (PERMISSIVE semantics). With
    ``flatten`` each top-level field becomes ``{prefix}{field}``; the
    parse itself is a JVM-side projection — linear, shuffle-free.
    """
    from pyspark.sql import functions as F

    if schema is None:
        sample = (
            df.select(column).filter(F.col(column).isNotNull()).limit(1).collect()
        )
        if not sample:
            return df  # all-null column: nothing to infer or parse
        probe = df.sparkSession.range(1).select(
            F.schema_of_json(F.lit(sample[0][0])).alias("s")
        )
        schema = probe.head()["s"]
    struct_col = f"{column}_parsed"
    out = df.withColumn(struct_col, F.from_json(F.col(column), schema))
    if flatten:
        pre = prefix if prefix is not None else ""
        fields = out.schema[struct_col].dataType.fieldNames()
        for f_name in fields:
            out = out.withColumn(
                f"{pre}{f_name}", F.col(f"{struct_col}.{f_name}")
            )
        out = out.drop(struct_col)
    if drop_source:
        out = out.drop(column)
    return out


def json_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Schema inference over a semi-structured JSON string column: per
    KEY, how many rows carry it, what fraction of non-null JSON rows
    that is, and the majority value type — the profiling step before
    anyone writes an extraction schema against event ``props``.

    Distributed shape: ``from_json`` to ``map<string,string>`` + one
    map explode (keys are DATA, so no per-key literal paths), one
    groupBy (key, class) and one per-key majority vote — two small
    shuffles keyed on key names. Value classes come from deterministic
    regexes over the stringified scalar (integer/double/boolean/null/
    string); nested objects/arrays stringify per Spark's map cast and
    classify as object/array. Majority ties break lexicographically.

    Output: (key, n_present long, fraction 6dp, vtype), key-ordered.
    """
    parsed = (
        df.where(F.col(json_col).isNotNull())
        .select(
            F.from_json(F.col(json_col), "map<string,string>").alias("_m")
        )
        .where(F.col("_m").isNotNull())
    )
    total = parsed.count()
    if total == 0:
        return df.sparkSession.createDataFrame(
            [], "key string, n_present long, fraction double, vtype string"
        )
    kv = parsed.select(F.explode("_m").alias("key", "_v"))
    v = F.col("_v")
    cls = (
        F.when(v.isNull(), "null")
        .when(v.rlike(r"^-?\d+$"), "integer")
        .when(v.rlike(r"^-?\d+\.\d+([eE][+-]?\d+)?$"), "double")
        .when(v.isin("true", "false"), "boolean")
        .when(v.startswith("{"), "object")
        .when(v.startswith("["), "array")
        .otherwise("string")
    )
    by_class = kv.groupBy("key", cls.alias("_cls")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(F.desc("_c"), F.asc("_cls"))
    return (
        by_class.withColumn("_rk", F.row_number().over(w))
        .groupBy("key")
        .agg(
            F.sum("_c").cast("long").alias("n_present"),
            F.min(F.when(F.col("_rk") == 1, F.col("_cls"))).alias("vtype"),
        )
        .select(
            "key",
            "n_present",
            F.round(F.col("n_present") / F.lit(total), 6).alias("fraction"),
            "vtype",
        )
        .orderBy("key")
    )
