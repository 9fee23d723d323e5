"""Sequence packing for LLM training pipelines.

Concat-and-chunk packing: documents are laid out on one global token
stream (deterministic ``order_col`` order) and cut into fixed-length
training sequences of ``seq_len`` tokens. The core primitive is a
scalable global prefix sum — the naive formulation
(``SUM() OVER (ORDER BY id)`` with no partition) collapses to a single
task in Spark, so we do the classic two-phase scan instead:

1. range-repartition on the order column (each partition owns a
   contiguous key range),
2. one tiny aggregation of per-partition subtotals → cumulative
   offsets on the driver (``numPartitions`` rows, bytes of data),
3. a within-partition cumulative window + broadcast offset join.

Wall-clock is one shuffle (the range partitioning) plus a linear scan —
no single-task bottleneck, so it holds at 100 TB / 1000 executors.

Beyond-reference operator (LLM-pipeline family); no reference
counterpart — the reference has no corpus-packing surface.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: "str | Sequence[str]",
    out: "str | Sequence[str]" = "prefix_sum",
    num_partitions: int | None = None,
    persisted: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Running total of ``value_col`` over the global ``order_col`` order.

    ``order_col`` must be a total order (unique values) — ties straddling
    a range-partition boundary would otherwise make the result
    partitioning-dependent. The prefix sum is inclusive: the row's own
    value is counted.

    ``value_col``/``out`` accept parallel LISTS to scan several columns
    in ONE pass — one range repartition, one materialization, one
    subtotal collect, and one local window shared across all columns
    (the AUC family needs both row and positive prefixes over the same
    score order; two separate scans would double the dominant
    range-shuffle cost).

    Two-phase scan (see module docstring): per-partition subtotals are
    collected to the driver — that is ``numPartitions`` rows, not data —
    then re-joined as broadcast offsets.
    """
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out] if isinstance(out, str) else list(out)
    if len(value_cols) != len(outs):
        raise ValueError("value_col and out must have equal lengths")
    if num_partitions is None:
        # scale the range partitioning with the input (splits ≈ data
        # size / maxPartitionBytes) but floor at cluster parallelism: a
        # single-split small file must not serialize the CPU-bound
        # upstream projection — or the local window — onto one task
        num_partitions = max(
            df.rdd.getNumPartitions(),
            df.sparkSession.sparkContext.defaultParallelism,
        )
    from pyspark.storagelevel import StorageLevel

    ranged = df.repartitionByRange(num_partitions, F.col(order_col))
    # PERSIST before the subtotal collect: repartitionByRange draws its
    # boundaries from a SAMPLE, so re-evaluating the lineage in the
    # final query could partition differently than the job that computed
    # the offsets — per-partition offsets applied to the wrong partitions
    # silently corrupt the prefix sums (caught by the 6M-row stress
    # test: max(prefix) != grand total). One materialization, two reads.
    with_pid = ranged.withColumn(
        "__pid", F.spark_partition_id()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the cache is correctness-critical until the consumer materializes
    # (sampled range boundaries); eager callers pass `persisted` to own
    # the release — same contract as global_prefix_sum_decimal
    if persisted is not None:
        persisted.append(with_pid)

    subtotals = (
        with_pid.groupBy("__pid")
        .agg(
            *[
                F.sum(F.col(v).cast("long")).alias(f"__sub{i}")
                for i, v in enumerate(value_cols)
            ]
        )
        .collect()
    )
    # partition ids are ordered by key range (repartitionByRange), so the
    # exclusive running total over pid order is each partition's offset
    offsets, accs = [], [0] * len(value_cols)
    for row in sorted(subtotals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], *accs))
        for i in range(len(value_cols)):
            accs[i] += row[f"__sub{i}"] or 0
    if not offsets:
        res = df
        for o in outs:
            res = res.withColumn(o, F.lit(0).cast("long"))
        return res
    off_schema = "__pid int, " + ", ".join(
        f"__offset{i} long" for i in range(len(value_cols))
    )
    offsets_df = df.sparkSession.createDataFrame(offsets, off_schema)

    local_w = Window.partitionBy("__pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    res = with_pid
    for i, v in enumerate(value_cols):
        res = res.withColumn(
            f"__local{i}", F.sum(F.col(v).cast("long")).over(local_w)
        )
    res = res.join(F.broadcast(offsets_df), "__pid")
    drop = ["__pid"]
    for i, o in enumerate(outs):
        res = res.withColumn(
            o, (F.col(f"__local{i}") + F.col(f"__offset{i}")).cast("long")
        )
        drop += [f"__local{i}", f"__offset{i}"]
    return res.drop(*drop)


def global_prefix_sum_decimal(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out: str = "prefix_sum",
    num_partitions: int | None = None,
    persisted: "list[DataFrame] | None" = None,
) -> DataFrame:
    """:func:`global_prefix_sum` for NUMERIC (non-integer) values:
    running totals accumulate as DECIMAL(30,10) / DECIMAL(38,10), so the
    result is exact and order-independent — the building block for
    cumulative statistics over metric series (change-point scans,
    cumulative revenue) where the long-typed variant would truncate.

    Same two-phase shape and the same persist-before-offset-collect
    correctness requirement; driver-side offsets accumulate as Python
    ``Decimal`` (exact). ``order_col`` must be a total order.
    """
    from decimal import Decimal

    from pyspark.storagelevel import StorageLevel

    if num_partitions is None:
        num_partitions = max(
            df.rdd.getNumPartitions(),
            df.sparkSession.sparkContext.defaultParallelism,
        )
    ranged = df.repartitionByRange(num_partitions, F.col(order_col))
    with_pid = ranged.withColumn(
        "__pid", F.spark_partition_id()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the cache is correctness-critical until the consumer materializes
    # (sampled range boundaries); eager callers pass `persisted` to own
    # the release
    if persisted is not None:
        persisted.append(with_pid)
    dec = F.col(value_col).cast("decimal(30,10)")
    subtotals = (
        with_pid.groupBy("__pid")
        .agg(F.sum(dec).cast("decimal(38,10)").alias("__sub"))
        .collect()
    )
    offsets, acc = [], Decimal(0)
    for row in sorted(subtotals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["__sub"] or Decimal(0)
    if not offsets:
        return df.withColumn(out, F.lit(0).cast("decimal(38,10)"))
    offsets_df = df.sparkSession.createDataFrame(
        offsets, "__pid int, __offset decimal(38,10)"
    )
    local_w = Window.partitionBy("__pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        with_pid.withColumn("__local", F.sum(dec).over(local_w))
        .join(F.broadcast(offsets_df), "__pid")
        .withColumn(
            out,
            (F.col("__local") + F.col("__offset")).cast("decimal(38,10)"),
        )
        .drop("__pid", "__local", "__offset")
    )


def global_row_number(
    df: DataFrame,
    order_by: "list[str | tuple[str, str]]",
    out: str = "row_number",
    num_partitions: int | None = None,
    persisted: "list[DataFrame] | None" = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over an arbitrary multi-column order —
    the scale-safe replacement for ``Window.orderBy(...)`` with no
    partition key, which Spark executes as ONE task holding the whole
    dataset. Same two-phase scan as :func:`global_prefix_sum`: range
    partition on the sort order, per-partition row counts to the driver
    (``numPartitions`` rows), broadcast offsets + a within-partition
    row_number window.

    ``order_by`` entries are column names (ascending) or
    ``(name, "asc"|"desc")`` pairs. Equal keys land in the same range
    partition, so the numbering is a valid row_number under ties — but
    only DETERMINISTIC if the caller ends the order with a unique
    tie-break column (same contract as SQL ROW_NUMBER).

    The returned frame reads a persisted range-partitioned frame; a
    caller that materializes the result passes ``persisted`` to take
    that handle and release it afterwards.
    """
    from pyspark.storagelevel import StorageLevel

    specs = [(c, "asc") if isinstance(c, str) else c for c in order_by]
    sort_cols = [
        F.col(c).asc() if d.lower() == "asc" else F.col(c).desc()
        for c, d in specs
    ]
    if num_partitions is None:
        num_partitions = max(
            df.rdd.getNumPartitions(),
            df.sparkSession.sparkContext.defaultParallelism,
        )
    ranged = df.repartitionByRange(num_partitions, *sort_cols)
    # persist before the count collect — sampled range boundaries must
    # not be recomputed differently in the final query (see
    # global_prefix_sum)
    with_pid = ranged.withColumn("__pid", F.spark_partition_id()).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if persisted is not None:
        persisted.append(with_pid)
    counts = with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c")).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["__c"]
    if not offsets:
        return df.withColumn(out, F.lit(0).cast("long"))
    off = df.sparkSession.createDataFrame(offsets, "__pid int, __offset long")
    w = Window.partitionBy("__pid").orderBy(*sort_cols)
    return (
        with_pid.withColumn("__local", F.row_number().over(w))
        .join(F.broadcast(off), "__pid")
        .withColumn(out, (F.col("__local") + F.col("__offset")).cast("long"))
        .drop("__pid", "__local", "__offset")
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign every document its position in the packed token stream.

    Documents are concatenated in ``id_col`` order and the stream is cut
    every ``seq_len`` tokens (concat-and-chunk, the standard pretraining
    layout — no padding, documents may straddle sequence boundaries).

    Output columns per document: ``n_tokens``, ``start_offset`` (0-based
    position of the first token in the global stream), ``seq_id`` (the
    training sequence holding that first token), ``end_seq_id`` (sequence
    of the last token) and ``straddles`` (true when the document must be
    split across sequences). Zero-token documents occupy no stream space:
    they report the sequence they would start in and never straddle.

    Pass ``token_count_col`` to pack by a precomputed token count
    (e.g. a real tokenizer's); by default whitespace tokens are counted
    JVM-side.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    if token_count_col is None:
        counted = df.withColumn(
            "n_tokens",
            F.size(F.coalesce(tokens(text_col), F.array().cast("array<string>"))),
        )
    else:
        counted = df.withColumn(
            "n_tokens", F.coalesce(F.col(token_count_col), F.lit(0)).cast("int")
        )
    summed = global_prefix_sum(
        counted, id_col, "n_tokens", out="__cum", num_partitions=num_partitions
    )
    start = (F.col("__cum") - F.col("n_tokens")).cast("long")
    seq_id = F.floor(start / seq_len).cast("long")
    # last-token sequence; for empty docs fall back to the start sequence
    end_seq = F.when(
        F.col("n_tokens") > 0, F.floor((F.col("__cum") - 1) / seq_len)
    ).otherwise(seq_id).cast("long")
    return (
        summed.withColumn("start_offset", start)
        .withColumn("seq_id", seq_id)
        .withColumn("end_seq_id", end_seq)
        .withColumn("straddles", F.col("end_seq_id") > F.col("seq_id"))
        .drop("__cum")
    )


def packing_summary(packed: DataFrame, seq_len: int = 2048) -> DataFrame:
    """Per-sequence occupancy of a ``pack_sequences`` result: documents
    starting in the sequence and tokens contributed by them — a cheap
    audit of packing efficiency (one shuffle on ``seq_id``)."""
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.col("straddles").cast("int")).cast("long").alias("n_straddling"),
        )
        .withColumn("seq_len", F.lit(seq_len))
    )


def length_bucketed_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    n_buckets: int = 4,
    batch_size: int = 32,
) -> DataFrame:
    """Padding-efficient batch assignment: bucket documents by exact
    token-length quantiles, then fill fixed-size batches inside each
    bucket in length order — the standard inference/tokenization batching
    layout where a batch's cost is ``batch_size × max(len)``, so grouping
    similar lengths minimizes padding waste.

    Scale design: NO global-sort ntile (a single-partition window at
    corpus scale). Bucket boundaries come from one exact-percentile
    aggregate (broadcast as literals into a pure projection); the
    row_number / max windows partition BY BUCKET, so the only data
    movement is one shuffle across ``n_buckets`` keys. Assignment is
    deterministic: ties order by (length, id).

    Output: (id, tokens, bucket, batch_index, batch_max_tokens) —
    ``batch_max_tokens`` is what every row in the batch pads to.
    """
    if n_buckets < 1 or batch_size < 1:
        raise ValueError("n_buckets and batch_size must be >= 1")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    t = F.col(tokens_col).cast("double")
    if qs:
        bounds = df.agg(
            F.percentile(t, F.lit(qs)).alias("b")
        ).first()["b"] or []
        # 6-decimal boundaries: interpolated quantiles must compare
        # identically across engines (differential-oracle convention)
        bounds = [round(float(b), 6) for b in bounds]
    else:
        bounds = []
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + (t > F.lit(float(b))).cast("int")
    out = df.select(
        F.col(id_col), F.col(tokens_col), bucket.alias("bucket")
    )
    w_fill = Window.partitionBy("bucket").orderBy(
        F.col(tokens_col), F.col(id_col)
    )
    out = out.withColumn(
        "batch_index",
        ((F.row_number().over(w_fill) - 1) / batch_size).cast("long"),
    )
    w_batch = Window.partitionBy("bucket", "batch_index")
    return out.withColumn(
        "batch_max_tokens",
        F.max(F.col(tokens_col)).over(w_batch).cast("long"),
    )
