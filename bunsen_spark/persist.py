"""Materialization policy for reused / iterated subplans.

Iterative operators (connected components, PageRank, k-means, transitive
closure) and signature tables reused by multiple joins (MinHash/SimHash)
must cut re-computation of an expensive subplan. Spark offers two
mechanisms with different failure semantics:

- ``localCheckpoint``: writes partition blocks to executor-local
  storage and TRUNCATES lineage. Fastest (no replication, no lineage
  growth across fixpoint rounds), but the blocks are unreplicated —
  losing an executor makes the job unrecoverable. The right default on
  a single-JVM ``local[*]`` master, where "executor loss" is process
  death anyway.
- ``persist(MEMORY_AND_DISK)``: keeps lineage, so lost partitions are
  recomputed on executor failure. The right default on a multi-node
  cluster, where executor churn is routine (spot instances,
  preemption) and an unrecoverable 100 TB job is far more expensive
  than re-derivable cache blocks.

``materialize`` picks per the ``spark.bunsen.materialize.mode`` conf:
``checkpoint`` | ``persist`` | ``auto`` (default). ``auto`` resolves to
``checkpoint`` on ``local``/``local[...]`` masters and ``persist``
otherwise. Set the conf explicitly to override either way — e.g.
``persist`` on local[*] to exercise cluster behavior in tests, or
``checkpoint`` on a cluster whose executors are stable and whose
fixpoint rounds are deep enough for lineage growth to hurt.

:func:`has_committed_batches` is the matching probe on the storage
side: whether a ``batch_id``-partitioned parquet table exists yet;
:func:`overwrite_batch_partition` is the one write to such a table.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

MODE_CONF = "spark.bunsen.materialize.mode"


def _mode(df: DataFrame) -> str:
    spark = df.sparkSession
    mode = spark.conf.get(MODE_CONF, "auto")
    if mode not in ("auto", "checkpoint", "persist"):
        raise ValueError(
            f"{MODE_CONF} must be auto|checkpoint|persist, got {mode!r}"
        )
    if mode == "auto":
        master = spark.sparkContext.master or ""
        mode = "checkpoint" if master.startswith("local") else "persist"
    return mode


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Return a frame whose subplan will be computed (at most) once.

    ``eager=False`` defers materialization to first use. ``eager=True``
    forces computation NOW — as a read-before-write barrier (streaming
    state update), to pin a fixpoint round's result before the next
    round mutates inputs, or because the frame FANS OUT to independent
    consumers.

    Choosing between them (r13 measurement, OPTIMIZATION_r13.md):
    a LAZY checkpoint's blocks only exist after one full job has
    computed every partition. AQE submits independent query stages
    (each ``Exchange``/broadcast build below a join) CONCURRENTLY, so
    when a lazy-checkpointed table fans out to several joins, each
    stage's first touch can recompute the whole upstream subplan —
    measured 2-4× duplicate compute (and run-to-run bimodality, since
    the race is scheduling-dependent) on the MinHash signature tables.

    What can race is the checkpoint's LAZY RESIDUE: everything after
    the frame's last Exchange. Creating the checkpoint RDD compiles
    the adaptive plan, which materializes the shuffle-stage jobs right
    then — so for an exchange-bearing frame only the final stage
    (post-shuffle windows, aggregation merges, projections) is
    recomputed per racing consumer, while a MAP-ONLY frame's residue
    is its entire subplan (scan + regex + hashing).

    Rule: take ``eager=True`` when the residue is expensive — map-only
    signature/token projections feeding candidate AND verify joins
    (2-4× measured), post-shuffle window evaluation over a big frame
    (sessionize's flagged: ~20% measured) — or :func:`materialize_all`
    when several such frames are independent (one gang job instead of
    serial barriers). Stay lazy when the residue is cheap (the r13
    scorecard runs and bm25 tf, whose residues are rank filters and
    agg merges, measured ~1 s SLOWER eager) and for
    sequential-consumer frames — fixpoint rounds whose next action is
    an immediate count(), or broadcast-then-probe chains where the
    broadcast build completes before the probe starts.
    """
    if _mode(df) == "persist":
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    return df.localCheckpoint(eager=eager)


def materialize_eager(df: DataFrame) -> DataFrame:
    """`materialize(df, eager=True)` in `.transform()`-friendly form —
    for fixpoint rounds that must pin THIS round's result before the
    next round re-derives from it."""
    return materialize(df, eager=True)


def materialize_all(*dfs: DataFrame) -> list[DataFrame]:
    """Materialize several INDEPENDENT fan-out frames with ONE job.

    ``materialize_eager`` per frame forecloses the concurrent
    first-touch recompute (module docstring) but serializes the
    materialization jobs; when the frames don't derive from each other,
    one action over a union of 1-column projections computes all their
    subplans inside a single job — the stage trees run concurrently, so
    the barrier costs max(frames) instead of sum(frames). Projections
    over a checkpoint-marked frame cannot prune its compute (the
    wrapped RDD is opaque), so every column of every frame is pinned."""
    from pyspark.sql import functions as F

    outs = [materialize(df) for df in dfs]
    probe = None
    for o in outs:
        c = o.select(F.lit(1).alias("__one"))
        probe = c if probe is None else probe.unionAll(c)
    if probe is not None:
        probe.count()
    return outs


def release(df: DataFrame) -> None:
    """Free a frame previously returned by :func:`materialize`.

    In persist mode this matters: ``DataFrame.persist`` registers the
    plan with the CacheManager, which holds it STRONGLY — unlike
    localCheckpoint blocks (freed by the ContextCleaner when the RDD is
    GC'd), cached plans leak for the application lifetime unless
    explicitly unpersisted. Fixpoint loops and per-micro-batch
    streaming bodies MUST release each round's frame once the next
    round is pinned. ``unpersist`` on a never-persisted /
    checkpoint-mode frame is a harmless no-op, so callers don't branch
    on the mode. One-shot operator calls (a signature table consumed
    within one query) may skip release — they leak at most one cache
    entry per invocation; long-lived persist-mode applications should
    either call release via this function where they can or run
    ``spark.catalog.clearCache()`` between queries."""
    try:
        df.unpersist()
    except Exception:  # pragma: no cover — session already stopped
        pass


def has_committed_batches(spark, path: str) -> bool:
    """True when ``path``, a parquet table partitioned by ``batch_id``,
    holds at least one COMMITTED partition file. The one probe for
    directories that may not exist yet (streaming state, an index's
    ``codes_stream`` and ``tombstones``): a Hadoop-FS check, so a
    missing directory costs no failed read, and any other read failure
    (permissions, a corrupt footer) surfaces at the read that follows.
    A crash mid-write of the first batch leaves only ``_temporary`` /
    ``_SUCCESS`` debris, which reads as absent: task commit is what
    moves files out of ``_temporary``, so glob-visible parquet is
    committed data."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    committed = fs.globStatus(jvm.org.apache.hadoop.fs.Path(path + "/batch_id=*/*.parquet"))
    return committed is not None and len(committed) > 0


def overwrite_batch_partition(df: DataFrame, path: str) -> None:
    """Dynamic-partition overwrite of ``df``'s own ``batch_id``
    partitions of the parquet table at ``path`` (a replayed micro-batch
    rewrites only itself)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )
