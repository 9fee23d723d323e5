"""Parquet sources plan without a Spark job.

``FileConnector.read`` hands the reader the schema Spark would infer,
read on the driver from one footer through Spark's own
``ParquetToSparkSchemaConverter``. Without it, ``load()`` runs Spark's
schema-inference job for every parquet source. Each case here pins the
footer schema to Spark's own inference, field for field, and the rows
read to the rows Spark reads.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from metadata_etl_framework_spark.sources.file_connector import (
    FileConnector,
    parquet_footer_schema,
)
from metadata_etl_framework_spark.sources.tables import read_parquet_table

N = 4


def _t(**cols) -> pa.Table:
    return pa.table(cols)


def _ts(unit, tz=None):
    # 2023-11-14 22:13:20 UTC, then one second apart
    step = {"ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    return pa.array([(1_700_000_000 + i) * step for i in range(N)], pa.timestamp(unit, tz))


def _types(path):
    pq.write_table(_t(
        i8=pa.array(range(N), pa.int8()),
        u32=pa.array([2**32 - 1 - i for i in range(N)], pa.uint32()),
        u64=pa.array([2**64 - 1 - i for i in range(N)], pa.uint64()),
        dec=pa.array([decimal.Decimal(f"{i}.25") for i in range(N)], pa.decimal128(9, 2)),
        big=pa.array([f"s{i}" for i in range(N)], pa.large_string()),
        dic=pa.array([f"d{i % 2}" for i in range(N)]).dictionary_encode(),
        bin=pa.array([bytes([i]) for i in range(N)], pa.binary()),
        day=pa.array([dt.date(2024, 1, 1 + i) for i in range(N)], pa.date32()),
        lst=pa.array([[i, i + 1] for i in range(N)], pa.list_(pa.int64())),
        rec=pa.array([{"a": i, "b": str(i)} for i in range(N)]),
        kv=pa.array([[("k", i)] for i in range(N)], pa.map_(pa.string(), pa.int32())),
    ), path)


def _timestamps(path):
    pq.write_table(_t(
        naive_us=_ts("us"), utc_us=_ts("us", "UTC"), utc_ms=_ts("ms", "UTC"),
        naive_ms=_ts("ms"),
    ), path)


def _nanos(path):
    pq.write_table(_t(ns=_ts("ns"), ns_utc=_ts("ns", "UTC")), path)


def _int96(path):
    pq.write_table(
        _t(t=_ts("us", "UTC"), naive=_ts("us")), path,
        use_deprecated_int96_timestamps=True,
    )


CASES = {
    "types": _types,
    "timestamps": _timestamps,
    "nanos_as_long": _nanos,
    "int96": _int96,
}


def _same_read(spark, path, footer=True, **options):
    """Read ``path`` through ``FileConnector`` and through Spark's own
    inference; ``footer`` says whether the footer schema is expected to
    stand for the read (else the reader infers as Spark does)."""
    assert (parquet_footer_schema(spark, path, options) is not None) is footer
    ours = FileConnector(spark).read(path, "parquet", **options)
    spark_inferred = spark.read.options(**options).parquet(path)
    assert ours.schema == spark_inferred.schema
    key = lambda r: repr(r)  # noqa: E731  (maps are unorderable)
    assert sorted(ours.collect(), key=key) == sorted(spark_inferred.collect(), key=key)
    return ours


@pytest.mark.parametrize("case", list(CASES))
def test_footer_schema_is_sparks_own(spark, tmp_path, case):
    # written as a one-file directory: the reader lists it as Spark does
    d = tmp_path / case
    d.mkdir()
    CASES[case](str(d / "part-0.parquet"))
    _same_read(spark, str(d))


def test_single_file_and_glob_paths(spark, tmp_path):
    d = tmp_path / "many"
    d.mkdir()
    for i in range(3):
        pq.write_table(_t(id=pa.array([i], pa.int64()), v=pa.array([f"v{i}"])),
                       str(d / f"part-{i}.parquet"))
    (d / "_SUCCESS").write_text("")
    (d / ".hidden.parquet").write_text("junk")  # hidden: never a footer
    assert _same_read(spark, str(d / "part-1.parquet")).count() == 1
    assert _same_read(spark, str(d / "part-*.parquet")).count() == 3
    assert _same_read(spark, str(d)).count() == 3


def test_spark_written_file_keeps_its_stored_schema(spark, tmp_path):
    # Spark stores its own schema in the footer's key-value metadata;
    # the NTZ column must come back NTZ, the short column short
    out = str(tmp_path / "spark_written")
    spark.sql(
        "SELECT id, CAST(id AS SHORT) AS s, "
        "TIMESTAMP_NTZ'2024-01-01 10:00:00' + make_interval(0, 0, 0, 0, id) AS ntz, "
        "TIMESTAMP'2024-01-01 10:00:00' AS ltz, "
        "named_struct('x', id, 'y', array(id)) AS rec "
        "FROM range(5)"
    ).coalesce(1).write.parquet(out)
    _same_read(spark, out)


def test_hive_partition_columns_still_come_from_paths(spark, tmp_path):
    out = str(tmp_path / "hive")
    spark.sql(
        "SELECT id, id % 3 AS p, CAST(id % 2 AS STRING) AS q FROM range(12)"
    ).write.partitionBy("p", "q").parquet(out)
    df = _same_read(spark, out)
    assert df.columns == ["id", "p", "q"]
    # the footer holds only the data columns; Spark appends the inferred
    # partition columns (p as int, q as int: "0"/"1" infer numeric)
    assert parquet_footer_schema(spark, out, {}).fieldNames() == ["id"]


def test_summary_file_is_preferred(spark, tmp_path):
    d = tmp_path / "summary"
    d.mkdir()
    t = _t(id=pa.array([1, 2], pa.int64()), name=pa.array(["a", "b"]))
    pq.write_table(t, str(d / "part-0.parquet"))
    # the summary declares one more column than the data file holds:
    # Spark's schema comes from the summary, and so must ours
    pq.write_metadata(t.schema.append(pa.field("extra", pa.string())),
                      str(d / "_common_metadata"))
    assert _same_read(spark, str(d)).columns == ["id", "name", "extra"]


def test_merge_schema_still_unions(spark, tmp_path):
    d = tmp_path / "merge"
    d.mkdir()
    pq.write_table(_t(id=pa.array([1], pa.int64()), a=pa.array(["x"])), str(d / "part-0.parquet"))
    pq.write_table(_t(id=pa.array([2], pa.int64()), b=pa.array([2.5])), str(d / "part-1.parquet"))
    df = _same_read(spark, str(d), footer=False, mergeSchema="true")
    assert sorted(df.columns) == ["a", "b", "id"]
    # the session conf asks for merging too
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert parquet_footer_schema(spark, str(d), {}) is None
        assert sorted(FileConnector(spark).read(str(d), "parquet").columns) == ["a", "b", "id"]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert FileConnector(spark).read(str(d), "parquet").columns == ["id", "a"]


@pytest.mark.parametrize(
    "option", [("pathGlobFilter", "*.parquet"), ("recursiveFileLookup", "true")]
)
def test_file_filter_options_keep_spark_inference(spark, tmp_path, option):
    d = tmp_path / "filtered"
    d.mkdir()
    pq.write_table(_t(id=pa.array([1], pa.int64())), str(d / "part-0.parquet"))
    _same_read(spark, str(d), footer=False, **dict([option]))


def test_empty_directory_raises_sparks_error(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    assert parquet_footer_schema(spark, str(d), {}) is None
    with pytest.raises(Exception) as theirs:
        spark.read.parquet(str(d))
    with pytest.raises(Exception) as ours:
        FileConnector(spark).read(str(d), "parquet")
    assert type(ours.value) is type(theirs.value)
    assert "UNABLE_TO_INFER_SCHEMA" in str(ours.value)


def test_read_parquet_table_keeps_its_rebuilds(spark, tmp_path):
    p = str(tmp_path / "ns.parquet")
    pq.write_table(_t(ns=_ts("ns"), us=_ts("us"), v=pa.array(range(N), pa.int64())), p)
    df = read_parquet_table(spark, p)
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "timestamp", "timestamp", "bigint"
    ]
    assert df.collect() == [
        (dt.datetime(2023, 11, 14, 22, 13, 20 + i), dt.datetime(2023, 11, 14, 22, 13, 20 + i), i)
        for i in range(N)
    ]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-to-group bookkeeping arrives through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_runs_no_job(spark, tmp_path):
    out = str(tmp_path / "nojob")
    spark.range(20).selectExpr("id", "id * 2 AS v").write.parquet(out)
    fc = FileConnector(spark)
    assert _jobs_in_group(spark, "footer_read", lambda: fc.read(out)) == 0
    assert _jobs_in_group(
        spark, "footer_table", lambda: read_parquet_table(spark, out)
    ) == 0
    # Spark's own inference is the job the footer read replaces
    assert _jobs_in_group(spark, "footer_infer", lambda: spark.read.parquet(out)) == 1
