"""Streaming change-data-feed source (sources/versioned_stream.py):
the versioned table as a Structured Streaming source via the Python
DataSource API — offsets are version numbers, partitions are files."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
import pytest

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    delete_version,
    write_version,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
    VersionedChangesStreamReader,
    read_changes_stream,
)


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="vstream_test_")
    yield os.path.join(d, "tbl")
    shutil.rmtree(d, ignore_errors=True)


def _orders(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def _drain(spark, df, checkpoint=None):
    name = f"chg_{uuid.uuid4().hex[:8]}"
    w = df.writeStream.format("memory").queryName(name).outputMode("append")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name).localCheckpoint(eager=True)


def test_append_and_mor_tail_exact(spark, sf_dir, tdir):
    o = _orders(spark, sf_dir)
    write_version(spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), tdir)
    write_version(
        spark, o.filter(F.col("o_orderkey") % 2 == 1).repartition(2), tdir,
        mode="append",
    )
    delete_version(spark, tdir, F.col("o_orderkey") % 7 == 0, mode="mor")

    got = _drain(spark, read_changes_stream(spark, tdir))
    # row-level equality per commit, not just counts
    for v, ct, pred in [
        (1, "insert", F.col("o_orderkey") % 2 == 0),
        (2, "insert", F.col("o_orderkey") % 2 == 1),
        (3, "delete", F.col("o_orderkey") % 7 == 0),
    ]:
        g = got.filter(
            (F.col("_commit_version") == v) & (F.col("_change_type") == ct)
        ).select("o_orderkey", "o_custkey", "o_totalprice")
        want = o.filter(pred)
        assert g.exceptAll(want).count() == 0 and want.exceptAll(g).count() == 0, (
            f"v{v} {ct} mismatch"
        )


def test_cow_rewrite_refused_loudly(spark, sf_dir, tdir):
    o = _orders(spark, sf_dir)
    write_version(spark, o.repartition(2), tdir)
    delete_version(spark, tdir, F.col("o_orderkey") % 5 == 0)  # COW rewrite
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="read_changes"):
        _drain(spark, read_changes_stream(spark, tdir))


def test_checkpoint_resume_delivers_only_new_commits(spark, sf_dir, tdir):
    o = _orders(spark, sf_dir)
    write_version(spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), tdir)
    work = tempfile.mkdtemp(prefix="vstream_ckpt_")
    ckpt, out = os.path.join(work, "ckpt"), os.path.join(work, "out")

    def run_once():
        q = (
            read_changes_stream(spark, tdir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return spark.read.parquet(out)

    try:
        first = run_once()
        assert first.select(F.max("_commit_version")).first()[0] == 1
        n1 = first.count()
        assert n1 == o.filter(F.col("o_orderkey") % 2 == 0).count()
        write_version(
            spark, o.filter(F.col("o_orderkey") % 2 == 1).repartition(2), tdir,
            mode="append",
        )
        # restart with the SAME checkpoint: only version 2 is delivered,
        # exactly once (offset = version number lives in the checkpoint)
        second = run_once()
        v2 = second.filter(F.col("_commit_version") == 2)
        assert second.count() == n1 + o.filter(F.col("o_orderkey") % 2 == 1).count()
        assert v2.count() == o.filter(F.col("o_orderkey") % 2 == 1).count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_schema_evolution_nulls_old_files(spark, sf_dir, tdir):
    o = _orders(spark, sf_dir).limit(100).localCheckpoint(eager=True)
    write_version(spark, o.repartition(1), tdir)
    write_version(
        spark,
        o.withColumn("o_flag", F.lit("new")).repartition(1),
        tdir,
        mode="append",
        merge_schema=True,
    )
    got = _drain(spark, read_changes_stream(spark, tdir))
    assert "o_flag" in got.columns
    v1 = got.filter(F.col("_commit_version") == 1)
    v2 = got.filter(F.col("_commit_version") == 2)
    assert v1.filter(F.col("o_flag").isNotNull()).count() == 0
    assert v2.filter(F.col("o_flag") != "new").count() == 0


def test_starting_version_skips_history(spark, sf_dir, tdir):
    o = _orders(spark, sf_dir)
    write_version(spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), tdir)
    write_version(
        spark, o.filter(F.col("o_orderkey") % 2 == 1).repartition(2), tdir,
        mode="append",
    )
    got = _drain(spark, read_changes_stream(spark, tdir, starting_version=1))
    assert got.select(F.collect_set("_commit_version")).first()[0] == [2]


def test_partitions_plan_one_task_per_file(spark, sf_dir, tdir):
    o = _orders(spark, sf_dir)
    write_version(spark, o.repartition(5), tdir)
    delete_version(spark, tdir, F.col("o_orderkey") % 11 == 0, mode="mor")
    r = VersionedChangesStreamReader.__new__(VersionedChangesStreamReader)
    r._table_dir = tdir
    r._start = 0
    r._branch = None
    r._head_map = None  # unmapped table (planner-only construction)
    parts = r.partitions({"version": 0}, {"version": 2})
    inserts = [p for p in parts if p.kind == "insert"]
    deletes = [p for p in parts if p.kind == "delete"]
    assert len(inserts) == 5  # one executor task per added data file
    # one task per DV sidecar part file, covering the commit's whole DV set
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
    )

    dv_set = set(load_manifest(tdir, 2)["dv_files"])
    assert deletes and all(len(p.dv_files) == 1 for p in deletes)
    assert {p.dv_files[0] for p in deletes} == dv_set
    assert r.latestOffset() == {"version": 2}
    assert r.initialOffset() == {"version": 0}


def test_stream_feeds_rollup_maintenance(spark, sf_dir, tdir, tmp_path):
    """Composition: the change STREAM is the rollup maintainer's feed —
    foreachBatch folds each microbatch's inserts into the materialized
    rollup, and the result equals the from-scratch aggregation. The
    batch twin (rollup_from_changes) proves the math; this proves the
    streaming plumbing delivers the identical increments."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.rollup import (
        refresh_rollup,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type", "value"
    )
    write_version(spark, e.filter(F.col("event_id") % 3 == 0).repartition(2), tdir)
    write_version(
        spark, e.filter(F.col("event_id") % 3 == 1).repartition(2), tdir,
        mode="append",
    )
    write_version(
        spark, e.filter(F.col("event_id") % 3 == 2).repartition(2), tdir,
        mode="append",
    )
    rollup = str(tmp_path / "rollup")
    aggs = [("sum", "value", "sum_value"), ("count", "event_id", "n_events")]

    def fold(batch, batch_id):
        inc = batch.filter(F.col("_change_type") == "insert").drop(
            "_change_type", "_commit_version"
        )
        if not inc.isEmpty():
            refresh_rollup(
                spark, inc, rollup, ts_col="ts", bucket="hour",
                keys=["event_type"], aggs=aggs,
            )

    q = (
        read_changes_stream(spark, tdir)
        .writeStream.foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(rollup)
    want = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_start"), "event_type"
        ).agg(
            F.sum("value").alias("sum_value"),
            F.count("event_id").alias("n_events"),
        )
    )
    assert got.count() == want.count()
    joined = got.alias("g").join(
        want.alias("w"), ["bucket_start", "event_type"], "full_outer"
    )
    bad = joined.filter(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.abs(F.col("g.sum_value") - F.col("w.sum_value")) > 1e-6)
        | F.col("g.n_events").isNull()
        | F.col("w.n_events").isNull()
    )
    assert bad.count() == 0


def test_branch_stream_tails_staged_commits(spark, sf_dir, tdir):
    """A stream on a BRANCH sees the fork bootstrap (branch v1 = the
    forked snapshot) plus staged branch commits — main's chain is
    untouched. This is the WAP audit consumer's read."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        create_branch,
    )

    o = _orders(spark, sf_dir)
    evens = o.filter(F.col("o_orderkey") % 2 == 0)
    odds = o.filter(F.col("o_orderkey") % 2 == 1)
    write_version(spark, evens.repartition(2), tdir)
    create_branch(tdir, "wap")
    write_version(spark, odds.repartition(2), tdir, mode="append", branch="wap")

    got = _drain(spark, read_changes_stream(spark, tdir, branch="wap"))
    v1 = got.filter(F.col("_commit_version") == 1)  # fork bootstrap
    v2 = got.filter(F.col("_commit_version") == 2)  # staged append
    assert v1.count() == evens.count()
    assert v2.count() == odds.count()
    # main's own stream still sees only its one commit
    main = _drain(spark, read_changes_stream(spark, tdir))
    assert main.select(F.collect_set("_commit_version")).first()[0] == [1]
    assert main.count() == evens.count()


def test_dv_removal_refused_loudly(spark, sf_dir, tdir):
    """A restore past a MOR delete removes DV sidecars (rows come back
    alive) with the file list unchanged — silently emitting an empty
    batch would leave the consumer diverged forever. Must refuse."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        restore_version,
    )

    o = _orders(spark, sf_dir)
    write_version(spark, o.repartition(2), tdir)
    delete_version(spark, tdir, F.col("o_orderkey") % 7 == 0, mode="mor")
    restore_version(spark, tdir, 1)  # resurrects the MOR-deleted rows
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="read_changes"):
        _drain(spark, read_changes_stream(spark, tdir))


def test_reserved_change_columns_refused(spark, sf_dir, tdir):
    """A table whose own schema already holds _change_type or
    _commit_version would produce a duplicate-name stream schema and
    silently misaligned rows — schema() must refuse loudly instead."""
    o = _orders(spark, sf_dir).withColumn("_change_type", F.lit("x"))
    write_version(spark, o.repartition(2), tdir)
    with pytest.raises(Exception, match="reserved change-feed"):
        read_changes_stream(spark, tdir).schema
