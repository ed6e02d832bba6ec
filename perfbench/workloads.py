"""Workload registry, metric names and the shared workload scaffolding."""

from __future__ import annotations

import subprocess

PACKAGE = "bigbookapi_etl_with_airflow_and_snowflake_spark"

# CPU seconds of the benchmark's process tree (run.tree_cpu_s)
END_TO_END_UNITS = {"setup_s": "s", "pass_cpu_s": "s", "op_cpu_geomean_s": "s"}

CURATION_QUERIES = [
    "jaccard_pairs",
    "minhash_band_pairs",
    "embedding_neardup",
    "semantic_dedup_scaled",
    "heavy_hitter_words",
    "lm_quality",
    "decontaminate",
]

_LAKE_CALLS = [
    "write_version", "merge_version", "delete_version", "update_version",
    "optimize_table", "verify_table", "vacuum", "read_version_pruned", "read_version",
]

# Every per-layer metric, in report order. A layer a workload never
# enters reports 0 on it (no calls, no time).
PER_LAYER_UNITS = {
    "wall.setup_s": "s",
    "wall.pass_s": "s",
    "wall.op_geomean_s": "s",
    "session.get_spark_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{f"q.{n}_s": "s" for n in CURATION_QUERIES},
    "materialize.count": "count",
    "materialize_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "python.peak_rss_mb": "MB",
    "plans.pipelines.books_pipeline_s": "s",
    "plans.pipelines.warehouse_sync_s": "s",
    "plans.pipelines.models_pipeline_s": "s",
    "sources.rest.fetch_pages_s": "s",
    "sinks.files.write_parquet_s": "s",
    "sinks.jdbc.JdbcUpsertWriter.write_s": "s",
    **{f"sinks.versioned.{n}_s": "s" for n in _LAKE_CALLS},
    "sinks.versioned.files_rewritten": "count",
    "sinks.versioned.files_carried": "count",
    "sinks.versioned.files_scanned": "count",
    "sinks.versioned.head_files": "count",
    "sinks.versioned.dv_files": "count",
    "sinks.versioned.write_amp": "ratio",
    "ingest.dag_day_s": "s",
    "ingest.commit_p50_s": "s",
    "ingest.commit_tail_s": "s",
    "ingest.read_p50_s": "s",
    "ingest.space_amp": "ratio",
    "tracing.overhead_s": "s",
}

MATERIALIZE_SPANS = {"materialize.localCheckpoint", "materialize.checkpoint", "materialize.neardup"}


class Workload:
    """One workload: corpus, session, warm-up, timed passes.

    Subclasses implement ``prepare`` (inputs; returns whether it made a
    one-time build), ``setup``, ``warmup``, ``run_pass`` and may add
    tracing targets and per-layer values."""

    def __init__(self, run) -> None:
        self.run = run

    def start_session(self):
        from bigbookapi_etl_with_airflow_and_snowflake_spark import session

        tracer = self.run.tracer
        if self.run.trace:
            tracer.install(session, "get_spark", "session.get_spark", PACKAGE)
            tracer.trace_id, tracer.enabled = -1, True
        try:
            return session.get_spark(app_name=f"perfbench-{self.name}")
        finally:
            tracer.enabled = False
            tracer.uninstall()

    def stop_session(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.run.spark is not None:
            self.run.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def install_tracing(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup

        t = self.run.tracer
        t.install(DataFrame, "localCheckpoint", "materialize.localCheckpoint", PACKAGE)
        t.install(DataFrame, "checkpoint", "materialize.checkpoint", PACKAGE)
        t.install(neardup, "materialize", "materialize.neardup", PACKAGE)
        for owner, attr, name in self.tracing_targets():
            t.install(owner, attr, name, PACKAGE)

    def tracing_targets(self) -> list[tuple[object, str, str]]:
        return []

    def layer_values(self, pass_index: int) -> dict[str, float]:
        """Per-layer values of one traced pass beyond span self times."""
        spans = self.run.tracer.outermost(pass_index, MATERIALIZE_SPANS)
        selfs = self.run.tracer.self_times(pass_index)
        return {
            "materialize.count": float(len(spans)),
            "materialize_s": sum(sum(selfs.get(n, [])) for n in MATERIALIZE_SPANS),
        }

    def after_pass(self, pass_index: int) -> None:
        """Untimed work after each timed pass (output checks)."""

    def finish(self) -> None:
        """Run-level per-layer values, into ``run.layer``."""


def registry() -> dict[str, type]:
    from curation import Curation
    from ingest import Ingest

    return {"curation_x10": Curation, "ingest_dml": Ingest}
