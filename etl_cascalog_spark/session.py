"""SparkSession factory tuned for both local testing and cluster scale.

The reference runs each job in a fresh JVM over Hadoop MR with zero
application-level tuning (``/root/reference/src/cocacola/rpt/cascalog.sh:37-119``,
``resources/job-conf.clj:1-2``). Here a single session serves all pipelines;
AQE handles runtime re-planning (partition coalescing, skew joins) so the same
code works at local[32]/sf0.1 and on a 1000-executor cluster at 100 TB.
"""

from __future__ import annotations

import os
from collections.abc import Set
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "etl_cascalog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-conscious defaults.

    Defaults chosen for a 100 TB posture:

    - AQE on (runtime partition coalescing, skew-join splitting, dynamic
      broadcast conversion) — replaces hand-scheduling.
    - ``spark.sql.shuffle.partitions`` ~ cores locally; on a real cluster AQE
      coalesces from a deliberately-high initial number.
    - UTC session timezone so timestamp semantics match the DuckDB oracle and
      are cluster-location-independent.
    - Arrow enabled for the (rare) pandas-UDF paths.
    - Driver heap from :func:`default_driver_memory` (about half of
      physical RAM, capped at 16g); ``SPARK_GRAFT_DRIVER_MEM`` overrides.
    - PySpark's DataFrame call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). It costs
      about five py4j round trips per ``functions``/``Column`` call, half
      of a plan build's round trips, to put a Python file:line in error
      messages. PySpark reads the setting once per process, on the first
      wrapped call; pinned here it no longer depends on whether that call
      came before a session existed. Pass it as ``"true"`` in
      ``extra_conf`` to get call sites back.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # wide-aggregate plans (64-column sketches) stay in whole-stage
        # codegen instead of falling back to interpreted mode
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: half of physical RAM (MemTotal),
    capped at 16g. The heap is only part of the driver JVM's footprint
    (metaspace, code cache, direct buffers, plus the Python workers), so a
    heap sized to all of RAM gets the JVM OOM-killed on a 16 GB host with
    no swap. Falls back to 4g where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{min(total_mb // 2, 16 * 1024)}m"
    except OSError:
        pass
    return "4g"


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """IDs of every RDD currently holding blocks in the BlockManager —
    caches AND ``localCheckpoint`` data (the latter is invisible to
    ``spark.catalog.clearCache``, which only walks the SQL cache manager).
    The id set crosses py4j as one string, not one round trip per entry.
    """
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(k) for k in ids.split(",") if k}


def unpersist_rdd_ids(spark: SparkSession, ids: Set[int]) -> None:
    """Drop the blocks of specific persistent RDDs by id (no-op for ids
    already gone)."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def checkpoint_round(
    df: DataFrame, retire: Set[int] = frozenset()
) -> tuple[DataFrame, frozenset[int]]:
    """One round of an iterative operator (connected components,
    PageRank, k-means): an eager ``localCheckpoint`` of ``df`` that cuts
    the lineage, then the ``retire`` blocks (the round before, which the
    new blocks no longer need) are unpersisted. Returns the checkpointed
    frame and the ids of the blocks it created, to be retired a round
    later, so a bounded-iteration build holds at most one round of
    blocks. ``Observation`` metrics on ``df`` report on the checkpoint's
    job, so a convergence test needs no job of its own."""
    spark = df.sparkSession
    seen = persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    unpersist_rdd_ids(spark, retire)
    return out, frozenset(persistent_rdd_ids(spark) - seen)


@contextmanager
def scoped_storage(spark: SparkSession):
    """Scope-bound storage lifecycle: every cache / ``localCheckpoint``
    block CREATED inside the ``with`` body is released on exit — the
    structural replacement for the "callers must remember
    :func:`release_all_blocks`" convention (round-3 advice). Storage that
    existed before entry is untouched, so scopes nest safely and library
    users cannot leak blocks from operators that ``.cache()`` internally
    (dedup/similarity builders, ``global_token_offsets``, …).

    Consume the results INSIDE the scope (collect/write/count): frames
    returned by iterative operators are backed by checkpoint blocks that
    die at scope exit.

    Blocks are tracked by RDD-id diff over the BlockManager, which covers
    both SQL ``.cache()`` data and ``localCheckpoint`` data (the latter is
    invisible to ``spark.catalog.clearCache``). A ``.cache()`` whose
    blocks were dropped here simply re-materializes if that exact frame is
    reused later — correctness is unaffected.
    """
    before = persistent_rdd_ids(spark)
    try:
        yield
    finally:
        created = persistent_rdd_ids(spark) - before
        unpersist_rdd_ids(spark, created)


def release_all_blocks(spark: SparkSession) -> None:
    """Session-level storage reset between independent jobs: SQL cache
    + every persistent RDD, INCLUDING ``localCheckpoint`` blocks.

    ``spark.catalog.clearCache()`` alone leaks localCheckpoint data from
    iterative operators (connected components, incremental dedup); in a
    long session those blocks accumulate until a major GC stalls an
    unlucky later query. Callers that own a long-lived session (bench
    loops, the CLI, notebook users) should call this when a query's
    results have been consumed. NOTE: frames returned by iterative
    operators are backed by checkpoint blocks — release only AFTER
    collecting/writing them."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)
    spark.catalog.clearCache()
