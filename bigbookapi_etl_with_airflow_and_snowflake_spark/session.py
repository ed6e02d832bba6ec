"""SparkSession factory.

Single place where execution-relevant config lives. Defaults target the
test harness (``local[$SPARK_GRAFT_CPUS]``, one JVM) but every knob is
chosen so the same code runs unchanged on a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy)
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from the configured ceiling down to useful sizes
- UTC session timezone so timestamp semantics match the DuckDB oracle
  and are cluster-location-independent
- Arrow enabled for any pandas interchange (vectorized UDF path)
- generated-code cache sized to the workloads' working set, so a query
  that runs again reuses its compiled classes (below)
- one materialization tier per session (:func:`materialize`), chosen by
  Spark's own ``spark.checkpoint.dir``

Codegen cache. Spark caches each generated Java source's compiled
class in one JVM-wide LRU of ``spark.sql.codegen.cache.maxEntries``
entries, 100 by default. Measured working sets (distinct sources in
the cache after a warm-up and warm passes, pyspark 4.1.2, 4 cores):
338 for the 28 ``bench.BENCH_QUERIES`` at sf0.1, about 200 for perfbench's
``curation_x10``, and 94 plus about 8 per day for ``ingest_dml``
(sources whose code differs from day to day). At 100 entries a
``curation_x10`` pass evicted what the next pass needed and
recompiled 123-172 sources with Janino every pass, and the JIT then
compiled the fresh classes again; at 1024, 3× the largest working
set, a repeated pass compiled 0, and metaspace after a warm-up and
three passes was 165 MB against 169 MB at 100 (evicted classes are
replaced by new ones, so the small cache saves no metaspace either).
This is a STATIC SQL conf: it takes effect only when this builder
creates the session. A session built elsewhere (for example one a
caller passes to ``__spark_entry__``) keeps that session's value, and
``spark.conf.set`` cannot change it at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "bigbookapi-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` so tests and
    bench share one code path; on a cluster, pass ``master=None`` with
    ``spark.master`` preset in the environment, or an explicit URL.

    Every eager materialization point (:func:`materialize`) uses the
    fast executor-local tier unless the session has a checkpoint
    directory. To opt in to the reliable, fault-tolerant tier, pass
    ``extra_conf={"spark.checkpoint.dir": path}`` (a shared filesystem
    such as HDFS or S3 on a cluster) when this call creates the
    session. The setting is session-wide: every operator and registry
    entry of the session then checkpoints reliably.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # Spark has no TIMESTAMP(NANOS) type; read ns columns as long
        # (sources.files.read_table converts to µs timestamps, lossless
        # for µs-aligned data)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return it with its lineage cut, so every
    downstream branch reuses ONE computed table instead of re-running
    the plan above it, and so a temp directory the plan read can be
    deleted once this returns.

    The tier comes from the session. With no checkpoint directory (the
    default) it is ``localCheckpoint(eager=True)``: fast executor-local
    block storage, but NOT fault-tolerant; an executor lost mid-query
    fails the job. When ``sparkContext.getCheckpointDir()`` is set (by
    ``spark.checkpoint.dir``, see :func:`get_spark`) it is the reliable
    ``checkpoint(eager=True)``, written under that directory, which
    survives executor loss. Both are eager: **building a plan that
    contains a materialization point launches Spark jobs at once.**
    That is the documented contract of every operator and registry
    entry that calls this.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
