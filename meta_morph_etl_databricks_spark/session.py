"""SparkSession factory with scale-appropriate defaults.

The reference creates one tiny session per Airflow task
(``ETL-Airflow/dags/tasks/utils.py:123-156``: local[*], 1g, 2 shuffle
partitions, session TZ Asia/Kolkata).  We instead build ONE session per run
and let AQE pick runtime parallelism — the per-task-session +
materialize-through-Postgres pattern in the reference is a deployment
artifact, not engine semantics (SURVEY.md §3.1, §7.1).

All settings here are cluster-size-relative: on a real 1000-executor
cluster only ``master`` changes; AQE coalesces the 2× over-provisioned
shuffle partitions down to the data's true size, and skew-join splitting
handles hot keys without manual salting in the common case.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# UTC keeps date/timestamp semantics identical between Spark, DuckDB
# oracles, and parquet metadata.  The reference pins Asia/Kolkata
# (utils.py:139) — a config choice, not a semantic one; pipelines take an
# explicit `as_of` date instead of depending on session-local today().
_SESSION_TZ = "UTC"

# 16g covers every bench/test working set with headroom; pre-touching
# (see below) makes startup cost proportional to heap size, so bigger
# isn't better here.  A pre-touched Xms=Xmx heap must also FIT: on a
# 15.7 GiB host a 16g heap fails to map and the JVM never starts.  So
# the default is a quarter of MemAvailable, floored at 1g and capped at
# 16g; hosts without /proc/meminfo keep the cap.  Env-overridable.
_HEAP_CAP_MB = 16 * 1024
_HEAP_FLOOR_MB = 1024


def driver_mem_for(meminfo: str) -> str:
    """Default driver heap for a host, from the text of /proc/meminfo."""
    for line in meminfo.splitlines():
        if line.startswith("MemAvailable:"):
            mb = int(line.split()[1]) // 1024 // 4
            return f"{max(_HEAP_FLOOR_MB, min(_HEAP_CAP_MB, mb))}m"
    return f"{_HEAP_CAP_MB}m"


def _default_driver_mem() -> str:
    try:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    except OSError:
        meminfo = ""
    return driver_mem_for(meminfo)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "meta-morph-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic join-strategy switching — this is the
    scale-survival layer (BASELINE.md envelope vs 100 TB target).
    """
    cpus = default_parallelism()
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", _SESSION_TZ)
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalescing apply INSIDE cached plans too: Spark
        # defaults this off to keep a cached frame's output partitioning
        # stable for downstream reuse, which leaves a tiny persisted
        # artifact (e.g. a 2k-row serve index) carrying the full
        # shuffle.partitions count — every action over it then schedules
        # shuffle.partitions tasks of pure overhead (measured: the
        # persisted IVF lists/index at 64 partitions for 2000 rows, ~5
        # stages × 64 tasks per serve arm).  Size-proportional cached
        # partitioning is the scale-correct shape at any data size; the
        # declared queries don't rely on cached output partitioning.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter join pruning: when the build side of a
        # shuffle join is filtered-but-too-big-to-broadcast, inject a
        # bloom filter of its join keys into the probe side's scan —
        # at 100 TB this prunes most of the fact scan's rows BEFORE the
        # shuffle (semi-join pushdown without a second pass).  The
        # 10 GiB default application-side threshold means it only fires
        # on genuinely large probes; semantics are unaffected (test
        # proves row parity with the filter forced on).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # iterative operators (connected_components) checkpoint per
        # round; without this, reliable-checkpoint files accumulate
        # until application exit (Spark defaults it to false)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the scan wrapper.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # split small file sets down to cluster parallelism (the 128 MiB
        # cap above still governs big inputs; this floors the split COUNT
        # so a 3-file scan doesn't serialize a 32-core stage)
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # local mode: the driver heap IS the executor heap for every
        # worker thread.  Pin it (Xms=Xmx) and pre-touch: on-demand heap
        # commit under THP=madvise/defrag=madvise caused kernel
        # page-fault storms (32 runnable threads at ~98% SYSTEM cpu,
        # context switches collapsed) that randomly added 10-30s to
        # whichever query was running.  Pre-faulting the pages once at
        # startup removed the 1.9-29s run-to-run swings (same plan,
        # same data) entirely.  On a real cluster the executor JVMs
        # carry these settings' role.
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
