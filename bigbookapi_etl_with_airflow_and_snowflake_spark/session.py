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
- a fixed JIT policy on the driver JVM: C2 compiles only code that
  stays hot (below)
- on local masters under CPython < 3.12, a Python worker daemon that
  keeps each worker from re-reading ``pyspark.zip`` on every task
  (below)

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

JIT policy. HotSpot's tiered JIT compiles a method with C1 first and
recompiles it with the optimizing C2 (tier 4), whose compiles cost far
more CPU, once its profile passes the tier-4 thresholds. A cold run
of a few minutes crosses those thresholds for much of the driver,
planner and codegen code. It then barely runs that code again, so the
C2 work never pays back. The paper's DAGs run as fresh daily tasks,
so every production run pays it. ``get_spark`` raises the four tier-4
thresholds 10× over JDK 17's defaults (``-XX:Tier4InvocationThreshold=50000
-XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000
-XX:Tier4BackEdgeThreshold=400000``). C1 and tiered compilation stay
as they are, and code that stays hot (scan, aggregate and kernel
loops) still reaches C2. Measured with perfbench on a 4-vCPU host (JDK
17.0.20, pyspark 4.1.2, process-tree CPU seconds, medians of
alternating A/B pairs against the default thresholds):

- ``ingest_dml``, 10 pairs: ``setup_s`` 72.6 → 53.8 (−26%, 10/10
  pairs), ``pass_cpu_s`` 16.2 → 14.0 and ``op_cpu_geomean_s`` 1.28 →
  1.10.
- ``curation_x10``, 5 pairs: ``setup_s`` 90.2 → 72.4, ``pass_cpu_s``
  25.7 → 20.2 and ``op_cpu_geomean_s`` 3.46 → 2.73.
- JVM CPU by thread in an ``ingest_dml`` run: the live C2 compiler
  threads used 22.7 → 10.9 CPU-s, and exited threads, mostly HotSpot's
  dynamically started extra compiler threads, used 23.4 → 7.5 CPU-s.
  Executor task threads used more, 10.9 → 12.9 CPU-s (28.0 against
  21.8 on ``curation_x10``), because they run C1 code for longer.
- Wall times did not fall with the CPU: the C2 work saved ran on
  otherwise idle cores. Median setup wall went 28.5 → 29.3 s on
  ``ingest_dml`` and 32.1 → 34.1 s on ``curation_x10``; the median
  timed pass went 6.6 → 7.2 s and 9.0 → 8.6 s. ``bench.py`` at sf0.1
  (the steady state) took 20.0 → 19.6 s, medians of 3 pairs.

The blunter C1-only ``-XX:TieredStopAtLevel=1`` was tried and rejected.
It cut ``curation_x10``'s ``setup_s`` further (111.5 → 56.7 CPU-s in
a single probe), but ``bench.py`` at sf0.1 went from 22.9 s to 40.1 s
(+75%), because hot code then never leaves C1.

The flags travel as ``spark.driver.defaultJavaOptions``, not
``extraJavaOptions``. pyspark appends ``PYSPARK_SUBMIT_ARGS`` after
the session's own ``--conf`` settings, and a ``--driver-java-options``
there (perfbench passes one) replaces ``extraJavaOptions``, whereas
Spark prepends ``defaultJavaOptions`` to it. Like any JVM flag, they
apply only when ``get_spark`` launches the JVM. A session built
elsewhere, or a JVM already running in the process, keeps its own
flags.

Python worker daemon. Spark runs Python code (the ``mapInPandas`` and
``applyInPandas`` kernels, UDFs, the P3 upsert's ``foreachPartition``)
in worker processes that a daemon forks, one daemon per worker
environment, and it reuses a worker for later tasks. Every task starts
with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Before CPython 3.12
that makes every cached ``zipimporter`` re-read its archive's whole
directory, and a worker holds one importer per package directory it
imported from ``pyspark.zip`` (1,328 entries), so a reused worker read
the directory 16 times per task: about 0.2 CPU-s per task that is
neither import nor work. A cProfile of 20 no-op tasks on ``local[2]``
put 11.4 of 12.6 profiled seconds in ``zipimport._read_directory``.
CPython 3.12 made the re-read lazy (gh-103200). ``get_spark`` sets
``spark.python.daemon.module`` to ``spark_graft_daemon``
(``_daemon/spark_graft_daemon.py``), which re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since the process
last read it and then runs ``pyspark.daemon.manager()``. A warm no-op
``foreachPartition`` of 4 tasks went from 0.83-0.99 to 0.07 worker
CPU-s. Measured with perfbench on a 4-vCPU host (CPython 3.11.7,
pyspark 4.1.2, process-tree CPU seconds, medians of alternating A/B
pairs against the stock daemon):

- ``ingest_dml``, 12 pairs: ``pass_cpu_s`` 11.97 → 9.79 (−18%, 12/12
  pairs), ``op_cpu_geomean_s`` 0.92 → 0.82, ``setup_s`` 46.6 → 44.7.
  The operations that run Python tasks moved: ``models_pipeline`` (the
  sqlite upsert's ``foreachPartition``) 2.22 → 0.87 CPU-s and
  ``maintenance`` (the footer audit's ``mapInPandas``) 2.56 → 1.79.
- ``curation_x10``, 5 pairs: ``pass_cpu_s`` 20.72 → 15.22 (−27%, 5/5
  pairs), ``op_cpu_geomean_s`` 2.73 → 2.00, ``setup_s`` 63.8 → 63.0.

It applies only to ``local*`` masters, because the daemon's directory
is a path on the driver's filesystem, passed to the workers through
``spark.executorEnv.PYTHONPATH``; a cluster's executors do not have it.
It applies only under CPython < 3.12, which already re-reads lazily.
``get_spark`` prepends the directory to the caller's own
``spark.executorEnv.PYTHONPATH``, and a ``spark.python.daemon.module``
in ``extra_conf`` replaces this one. The directory holds that one
module and no ``__init__.py``: whatever it holds is importable on every
worker, and this package must stay unimportable there (executor
kernels pickle by value, see ``operators.lake.footer_kernel``).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession

# C2 (tier-4) compile thresholds 10x HotSpot's JDK 17 defaults (5000,
# 600, 15000, 40000); C1 and tiered compilation unchanged. See "JIT
# policy" above.
_JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

# The worker daemon that stops each task from re-reading pyspark.zip, and
# the directory that holds it alone. See "Python worker daemon" above.
_DAEMON_MODULE = "spark_graft_daemon"
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_daemon")


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

    A driver JVM this call launches runs with the module's JIT policy
    (C2 thresholds raised 10×, see the module docstring).

    On a ``local*`` master under CPython < 3.12 the Python workers run
    under the module's worker daemon, which re-reads a zip archive only
    when it changed (see "Python worker daemon" in the module docstring).
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
        .config("spark.driver.defaultJavaOptions", _JIT_POLICY)
        # Spark has no TIMESTAMP(NANOS) type; read ns columns as long
        # (sources.files.read_table converts to µs timestamps, lossless
        # for µs-aligned data)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # the SQL UDF path adds this to its workers' environment and the
        # RDD path does not; Spark starts one worker daemon per distinct
        # environment, so setting it for every worker makes it one daemon
        .config("spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK", "1")
    )
    extra_conf = dict(extra_conf or {})
    if master.startswith("local") and sys.version_info < (3, 12):
        builder = builder.config("spark.python.daemon.module", _DAEMON_MODULE)
        extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            p for p in (_DAEMON_DIR, extra_conf.get("spark.executorEnv.PYTHONPATH")) if p
        )
    for k, v in extra_conf.items():
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
