"""Incremental-load keys: merge/upsert, SCD2, CDC, late data, deletes and
snapshot diffs."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_etl_framework_spark.functions import detect_deletes
from metadata_etl_framework_spark.incremental.merge import (
    apply_cdc_events,
    keep_latest,
    merge_upsert,
    scd2_apply,
    scd2_identify_changes,
    split_late_data,
)

from driver_keys.common import _t
from driver_keys.registry import register


# --------------------------------------------------------------------------
# incremental
# --------------------------------------------------------------------------

def _incr_detect_deletes(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return detect_deletes(cust, orders, ["c_custkey"])


def _incr_merge_upsert(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderstatus") == "O")
    source = orders.filter(F.col("o_totalprice") > 400000.0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    return merge_upsert(target, source, ["o_orderkey"], "upsert")


def _incr_scd2_changes(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    incoming = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal") + 100.0).otherwise(
            F.col("c_acctbal")
        ),
    )
    changes = scd2_identify_changes(cust, incoming, ["c_custkey"], ["c_acctbal"])
    return changes.select("c_custkey", "c_acctbal", "change_type")


# --------------------------------------------------------------------------
# incremental (merge/CDC/SCD2/late)
# --------------------------------------------------------------------------

def _incr_keep_latest(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = keep_latest(li, ["l_orderkey"], ("l_linenumber", "l_quantity"),
                      descending=True)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


def _incr_cdc_apply(spark, sf_dir):
    """CDC batch apply: DELETE (key%7==0), UPDATE acctbal+1000 (key%11==0,
    not deleted), INSERT new keys (+1000000 for key%13==0)."""
    cust = _t(spark, sf_dir, "customer")
    deletes = (
        cust.filter(F.col("c_custkey") % 7 == 0)
        .withColumn("op", F.lit("DELETE"))
    )
    updates = (
        cust.filter((F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .withColumn("op", F.lit("UPDATE"))
    )
    inserts = (
        cust.filter(F.col("c_custkey") % 13 == 0)
        .withColumn("c_custkey", F.col("c_custkey") + 1000000)
        .withColumn("op", F.lit("INSERT"))
    )
    events = deletes.unionByName(updates).unionByName(inserts)
    return apply_cdc_events(cust, events, ["c_custkey"])


def _incr_scd2_apply(spark, sf_dir):
    """Full SCD2 rewrite: BUILDING-segment balances change; their current
    rows close at the effective timestamp and new versions open."""
    cust = _t(spark, sf_dir, "customer")
    dim = (
        cust.withColumn("start_date", F.lit("2020-01-01 00:00:00").cast("timestamp"))
        .withColumn("end_date", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    incoming = cust.withColumn(
        "c_acctbal",
        F.when(
            F.col("c_mktsegment") == "BUILDING", F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")),
    )
    out = scd2_apply(
        dim, incoming, ["c_custkey"], ["c_acctbal"], "2024-06-01 00:00:00"
    )
    # end_date is NULL-able; stringify both sides so NaT never enters the
    # cross-engine value hash (units of null timestamps differ by engine)
    return out.select(
        "c_custkey",
        "c_acctbal",
        F.date_format("start_date", "yyyy-MM-dd HH:mm:ss").alias("start_date"),
        F.date_format("end_date", "yyyy-MM-dd HH:mm:ss").alias("end_date"),
        "is_current",
    )


def _incr_late_split(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    on_time, late = split_late_data(ev, "ts", "2024-01-15 00:00:00")
    a = on_time.agg(F.count(F.lit(1)).alias("on_time_rows"))
    b = late.agg(F.count(F.lit(1)).alias("late_rows"))
    return a.crossJoin(b)


def _incr_snapshot_diff(spark, sf_dir):
    """Full-snapshot strategy: classify INSERT/UPDATE/DELETE between two
    snapshot states (incremental/merge.py::snapshot_diff; reference
    snapshot load arm of incremental_load_manager.py)."""
    from metadata_etl_framework_spark.incremental.merge import snapshot_diff

    cust = _t(spark, sf_dir, "customer")
    new = cust.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 11 == 0, F.col("c_acctbal") + 1000.0
        ).otherwise(F.col("c_acctbal")),
    )
    inserts = cust.filter(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    out = snapshot_diff(cust, new.unionByName(inserts), ["c_custkey"])
    return out.select("c_custkey", "c_acctbal", "change_type")


def _incr_snapshot_diff_cols(spark, sf_dir):
    """Snapshot diff WITH per-row change attribution
    (incremental/merge.py::snapshot_diff with_changed_columns): UPDATEs
    carry the sorted list of columns whose values differ — keys
    divisible by 11 move c_acctbal, by 3 move c_mktsegment, by 33 both;
    the audit answer to "WHAT changed on this key?"."""
    from metadata_etl_framework_spark.incremental.merge import snapshot_diff

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    new = (
        cust.filter(k % 7 != 0)
        .withColumn(
            "c_acctbal",
            F.when(k % 11 == 0, F.col("c_acctbal") + 1000.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        .withColumn(
            "c_mktsegment",
            F.when(k % 3 == 0, F.lit("MOVED")).otherwise(
                F.col("c_mktsegment")
            ),
        )
    )
    out = snapshot_diff(
        cust, new, ["c_custkey"], with_changed_columns=True
    )
    return out.select(
        "c_custkey",
        "change_type",
        F.array_join("changed_columns", ",").alias("changed"),
    )


register("incr_keep_latest", build=_incr_keep_latest, oracle="""
            SELECT l_orderkey, l_linenumber, l_quantity FROM (
                SELECT l_orderkey, l_linenumber, l_quantity,
                       ROW_NUMBER() OVER (
                           PARTITION BY l_orderkey
                           ORDER BY l_linenumber DESC, l_quantity DESC
                       ) AS rn
                FROM lineitem
            ) WHERE rn = 1
        """)

register("incr_cdc_apply", build=_incr_cdc_apply, oracle="""
            SELECT c_custkey, c_name, c_nationkey,
                   CASE WHEN c_custkey % 11 = 0 AND c_custkey % 7 <> 0
                        THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal,
                   c_mktsegment
            FROM customer WHERE c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer WHERE c_custkey % 13 = 0
        """)

register("incr_scd2_apply", build=_incr_scd2_apply, oracle="""
            SELECT c_custkey, c_acctbal,
                   '2020-01-01 00:00:00' AS start_date,
                   CAST(NULL AS VARCHAR) AS end_date, TRUE AS is_current
            FROM customer WHERE c_mktsegment <> 'BUILDING'
            UNION ALL
            SELECT c_custkey, c_acctbal,
                   '2020-01-01 00:00:00' AS start_date,
                   '2024-06-01 00:00:00' AS end_date, FALSE AS is_current
            FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT c_custkey, c_acctbal + 100.0,
                   '2024-06-01 00:00:00' AS start_date,
                   CAST(NULL AS VARCHAR) AS end_date, TRUE AS is_current
            FROM customer WHERE c_mktsegment = 'BUILDING'
        """)

register("incr_late_split", build=_incr_late_split, oracle="""
            SELECT (SELECT COUNT(*) FROM events
                    WHERE ts > TIMESTAMP '2024-01-15 00:00:00') AS on_time_rows,
                   (SELECT COUNT(*) FROM events
                    WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') AS late_rows
        """)

register("incr_detect_deletes", build=_incr_detect_deletes, oracle="""
            SELECT * FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """)

register("incr_merge_upsert", build=_incr_merge_upsert, oracle="""
            WITH src AS (
              SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders WHERE o_totalprice > 400000.0
            ), tgt AS (
              SELECT * FROM orders WHERE o_orderstatus = 'O'
            )
            SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
            UNION ALL
            SELECT * FROM src
        """)

register("incr_scd2_changes", build=_incr_scd2_changes, oracle="""
            SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 'UPDATE' AS change_type
            FROM customer WHERE c_mktsegment = 'BUILDING'
        """)

register("incr_snapshot_diff_cols", build=_incr_snapshot_diff_cols, oracle="""
            WITH changed AS (
              SELECT c_custkey,
                     CASE WHEN c_custkey % 11 = 0 AND c_custkey % 3 = 0
                          THEN 'c_acctbal,c_mktsegment'
                          WHEN c_custkey % 11 = 0 THEN 'c_acctbal'
                          WHEN c_custkey % 3 = 0 THEN 'c_mktsegment'
                          ELSE '' END AS changed
              FROM customer WHERE c_custkey % 7 <> 0)
            SELECT c_custkey, 'UPDATE' AS change_type, changed
            FROM changed WHERE changed <> ''
            UNION ALL
            SELECT c_custkey, 'DELETE', ''
            FROM customer WHERE c_custkey % 7 = 0
        """)

register("incr_snapshot_diff", build=_incr_snapshot_diff, oracle="""
            SELECT c_custkey, c_acctbal + 1000.0 AS c_acctbal,
                   'UPDATE' AS change_type
            FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
            UNION ALL
            SELECT c_custkey, c_acctbal, 'DELETE'
            FROM customer WHERE c_custkey % 7 = 0
            UNION ALL
            SELECT c_custkey + 1000000, c_acctbal, 'INSERT'
            FROM customer WHERE c_custkey % 13 = 0
        """)
