"""Warehouse layout utilities for cluster-scale joins.

Bucketing pre-shuffles a table ONCE at write time: two tables bucketed
by the same key into the same bucket count join with NO exchange on
either side (verified by the plan test — no ``Exchange`` under the
SortMergeJoin). At 100 TB this converts every recurring
resource-to-resource join (observations ⋈ patients on subject id,
lineitem ⋈ orders on orderkey) from a per-query 2-sided shuffle into a
zero-shuffle merge — the single biggest recurring-cost lever a
warehouse layout controls. Spark buckets require ``saveAsTable``
(metastore-backed), matching the reference's Hive-table warehouse
(SURVEY S9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


#: bucket count when the input's plan carries no size estimate (an
#: RDD-backed frame reports ``spark.sql.defaultSizeInBytes``)
FALLBACK_BUCKETS = 32


def bucket_count_for(df: DataFrame) -> int:
    """Bucket count sized to ``df``: the smallest power of two whose
    buckets each hold at most ``spark.sql.files.maxPartitionBytes`` of
    the optimized plan's ``sizeInBytes``, clamped to
    ``spark.sql.sources.bucketing.maxBuckets``. A plan with no real
    estimate (``sizeInBytes >= spark.sql.defaultSizeInBytes``) gets
    :data:`FALLBACK_BUCKETS`. Driver-only: reads plan statistics and
    launches no job.

    Each bucket is one file (see :func:`write_bucketed`) whose footer
    holds the full schema; for the spec resource schemas that footer
    outweighs a small bucket's rows, so over-bucketing a small table
    makes every later scan mostly open and decode footers."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if size >= conf.defaultSizeInBytes():
        return FALLBACK_BUCKETS
    per_bucket = max(1, conf.filesMaxPartitionBytes())
    n = 1
    while n * per_bucket < size:
        n *= 2
    return min(n, conf.bucketingMaxBuckets())


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str | list[str],
    num_buckets: int | None = None,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Write ``df`` as a parquet table bucketed (and by default sorted)
    by ``bucket_key`` — repeat for every co-joined table with the SAME
    key and bucket count to get shuffle-free joins. ``num_buckets``
    defaults to :func:`bucket_count_for` of ``df``; pass it explicitly
    when several tables must share one count.

    The frame is hash-partitioned on the key into ``num_buckets``
    partitions first. Spark's bucket id is the same
    ``pmod(murmur3(key), n)`` as ``HashPartitioning``, so each bucket is
    written by exactly one task: one file per non-empty bucket, instead
    of one per (write task, bucket) pair."""
    keys = [bucket_key] if isinstance(bucket_key, str) else list(bucket_key)
    if num_buckets is None:
        num_buckets = bucket_count_for(df)
    writer = df.repartition(num_buckets, *keys).write.format("parquet").mode("overwrite")
    if path:
        writer = writer.option("path", path)
    writer = writer.bucketBy(num_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def joins_without_shuffle(spark: SparkSession, left: str, right: str, on: list[str]) -> bool:
    """True when sort-merge-joining two (bucketed) tables on ``on``
    produces a plan with no Exchange — the bucketing layout is being
    exploited. The merge hint models the big-table case; at test scale
    the planner would otherwise pick a broadcast join (where bucketing
    is moot by design)."""
    j = spark.table(left).hint("merge").join(spark.table(right), on)
    plan = j._jdf.queryExecution().executedPlan().toString()
    return "Exchange" not in plan


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: str | list[str],
    num_files: int | None = None,
) -> None:
    """Write a globally range-ordered parquet layout: rows are
    range-partitioned on ``sort_cols`` (one contiguous, disjoint key
    range per output file) and sorted within each file.

    This is the scan-pruning complement to :func:`write_bucketed`
    (which optimizes joins): with disjoint per-file ranges, parquet
    footer min/max statistics let a point or range predicate on the
    sort key skip whole files and row groups, so a time-range query
    over a 100 TB event table touches only the files that overlap the
    range. ``repartitionByRange`` samples the key distribution, so
    files are balanced even under skew (hot keys split across files —
    the ranges stay disjoint but one key may span several files).
    """
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_ranges(spark: SparkSession, path: str, col: str) -> DataFrame:
    """(file, lo, hi, n) per physical parquet file — the audit query
    for range layouts: a correct :func:`write_range_sorted` output has
    pairwise-disjoint [lo, hi] intervals across files."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 8, rel_err: float = 0.001
) -> Column:
    """Z-order (Morton) value Column over numeric ``cols``: each
    column is quantile-bucketed into ``2^bits`` ranks (boundaries from
    one driver-side ``approxQuantile`` pass, so skewed distributions
    still fill all buckets), then the per-column bucket bits are
    interleaved. Sorting by this value clusters rows that are close in
    EVERY dimension."""
    from pyspark.sql import functions as F

    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    ndim = len(cols)
    if not cols:
        raise ValueError("cols must be non-empty")
    if bits * ndim > 63:
        # bit 63 is the long's sign bit: an interleaved bit landing
        # there makes those rows sort FIRST (negative z), silently
        # scattering each hyper-rectangle across distant files
        raise ValueError(
            f"bits*len(cols) = {bits * ndim} exceeds 63 — reduce bits "
            f"(e.g. {63 // ndim}) or the column count"
        )
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    # one scan computes every column's cut list (list overload)
    all_cuts = df.stat.approxQuantile(list(cols), probs, rel_err)
    # Per-column bucket = count of cuts <= value. r14: the former shape
    # built 2^bits - 1 literal Columns per dimension in a Python loop
    # (O(2^bits) py4j roundtrips — 390 s of pure driver time at
    # bits=15) and scanned the whole cut array per row with an
    # interpreted filter() HOF (O(2^bits) per row per dimension). Now
    # each cut list is ONE array literal (single py4j call) and the
    # bucket is an O(bits) unrolled binary search: an aggregate() over
    # the descending power-of-two steps, accumulating the classic
    # bitwise upper-bound search (sorted cuts, duplicates fine — the
    # predicate "arr[c] <= v" is monotone in c). The cut array is
    # padded with one +inf so every probed index is in bounds; the
    # final least() caps the v=+inf edge where the pad itself matches.
    z: Column = F.lit(0).cast("long")
    steps = [1 << i for i in range(bits - 1, -1, -1)]
    steps_arr = F.lit(steps)
    for d, (c, cuts) in enumerate(zip(cols, all_cuts)):
        arr = F.lit([float(b) for b in cuts] + [float("inf")])
        v = F.col(c).cast("double")
        bucket = F.least(
            F.aggregate(
                steps_arr,
                F.lit(0),
                lambda acc, step: acc
                + F.when(
                    F.element_at(arr, (acc + step).cast("int")) <= v, step
                ).otherwise(F.lit(0)),
            ),
            F.lit(nb - 1),
        ).cast("long")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * ndim + d
            )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> None:
    """Write a multi-dimension scan-pruning parquet layout: rows are
    range-partitioned and sorted by their :func:`zorder_value`, so
    each file covers a small hyper-rectangle of the key space and
    parquet footer min/max statistics prune files for predicates on
    ANY of ``cols`` — the multi-column generalization of
    :func:`write_range_sorted`, which prunes only its leading sort
    key. The standard layout for a 100 TB event table queried by both
    time range and entity id."""
    z = zorder_value(df, cols, bits)
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.withColumn("__z", z)
        .repartitionByRange(parts, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def plan_compaction(
    files: DataFrame,
    size_col: str,
    target_bytes: int,
    partition_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic small-file compaction plan — the maintenance pass
    a 100 TB parquet warehouse runs continuously: group existing files
    into output bins of ~``target_bytes`` so a rewrite job can
    ``coalesce`` each bin into one right-sized file.

    Sequential packing per partition: files are ordered by
    ``order_cols`` (so the plan is stable run-to-run — CRITICAL for an
    idempotent maintenance job). Because stability is the contract,
    ``order_cols`` is REQUIRED and must be a deterministic total order
    within each partition (e.g. include a unique file path/id):
    ordering by size alone would leave equal-size files tied, making
    their cumulative sums — and bin assignments — nondeterministic
    across runs. The running byte total is computed
    with one window cumulative sum, and a file's bin is
    ``prev_cumsum div target_bytes``. Every bin lands within one
    max-file-size of the target on either side (except the final
    partial bin) — bounded deviation without driver-side bin-packing
    state, in ONE window per partition (no iterative first-fit, no
    collect). Output: the input plus ``bin_id``.

    The plan is computed entirely from the file listing (thousands of
    rows per partition, not data rows), so it costs nothing at any
    data scale; the expensive part — the rewrite — reads each bin's
    files once and writes one file, embarrassingly parallel over bins.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    if not order_cols:
        raise ValueError(
            "order_cols is required and must form a deterministic total "
            "order (include a unique file path/id): ordering by size "
            "alone ties equal-size files and makes bin_id nondeterministic"
        )
    partition_cols = partition_cols or []
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum(F.col(size_col)).over(w), F.lit(0)).cast("long")
    return files.withColumn("__prev_cum", prev_cum).withColumn(
        "bin_id", F.expr(f"__prev_cum div {target_bytes}")
    ).drop("__prev_cum")


def plan_compaction_sql(
    files_sql: str,
    size_col: str,
    target_bytes: int,
    partition_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`plan_compaction`."""
    if not order_cols:
        raise ValueError("order_cols is required (see plan_compaction)")
    partition_cols = partition_cols or []
    part = (
        "PARTITION BY " + ", ".join(partition_cols) + " "
        if partition_cols
        else ""
    )
    order = ", ".join(order_cols)
    return f"""
SELECT *,
       CAST(COALESCE(sum({size_col}) OVER (
           {part}ORDER BY {order}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) // {target_bytes} AS BIGINT) AS bin_id
FROM ({files_sql}) __f
"""
