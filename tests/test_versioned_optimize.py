"""OPTIMIZE on versioned tables (sinks/versioned.py optimize_table):
bin-pack + optional re-cluster + DV fold + index rebuild in one
ordinary overwrite commit; time travel untouched.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    delete_version,
    load_manifest,
    optimize_table,
    read_version,
    read_version_pruned,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, n=5000):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
    )


def test_optimize_packs_folds_and_preserves_rows(spark, table):
    # fragment: 32 tiny files, then MOR-delete to accumulate DVs
    write_version(spark, _df(spark).repartition(32), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    want = sorted(r["id"] for r in read_version(spark, table).collect())
    r = optimize_table(spark, table, cluster_by=["id"])
    assert r["files_after"] < r["files_before"] == 32
    assert r["dv_files_folded"] >= 1
    assert not load_manifest(table, r["version"]).get("dv_files")
    got = sorted(x["id"] for x in read_version(spark, table).collect())
    assert got == want
    # time travel to the fragmented MOR version still works
    assert sorted(
        x["id"] for x in read_version(spark, table, version=2).collect()
    ) == want


def test_optimize_recluster_restores_skipping(spark, table):
    # hash-scattered layout: every file covers the whole id range
    write_version(spark, _df(spark).repartition(8, "g"), table)
    r = optimize_table(
        spark, table, cluster_by=["id"], target_file_bytes=8 * 1024,
        index_cols=["id"],
    )
    assert r["files_after"] > 1  # small target -> multiple range files
    df, info = read_version_pruned(spark, table, ranges={"id": (10, 20)})
    assert df.count() == 11
    assert info["files_read"] < info["files_total"]  # envelopes tight again
    # the rebuilt Bloom index prunes equality probes too
    df2, info2 = read_version_pruned(spark, table, keys={"id": [17]})
    assert [x["id"] for x in df2.collect()] == [17]
    assert info2["files_read"] < info2["files_total"]


def test_optimize_empty_snapshot_is_loud(spark, table):
    write_version(spark, _df(spark, 10), table)
    delete_version(spark, table, "id >= 0")  # now empty
    with pytest.raises(ValueError, match="empty snapshot"):
        optimize_table(spark, table)


def test_optimize_preserves_evolved_schema(spark, table):
    write_version(spark, _df(spark, 100), table)
    write_version(
        spark,
        _df(spark, 10).withColumn("extra", F.lit("x")),
        table,
        mode="append",
        merge_schema=True,
    )
    r = optimize_table(spark, table)
    out = read_version(spark, table)
    assert "extra" in out.columns
    assert out.filter("extra IS NULL").count() == 100  # old rows NULL-fill
    assert r["n_rows"] == 110


# ---------------------------------------------------------------------------
# incremental re-cluster (liquid-clustering profile)
# ---------------------------------------------------------------------------


def _clustered_then_scattered(spark, table):
    """v1: range-clustered files (narrow envelopes); v2: hash-scattered
    append (every new file spans the whole id domain)."""
    base = spark.range(10000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    write_version(
        spark,
        base.repartitionByRange(8, F.col("id")),
        table,
        stats_cols=["id"],
    )
    inc = spark.range(10000, 12000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    # union with a shuffled projection so each appended file spans the
    # id domain — repartition() hash-scatters rows across 4 files
    scattered = base.limit(0).unionByName(
        spark.range(12000).select(F.col("id"), (F.col("id") * 2).alias("v"))
        .sample(0.15, seed=7)
    ).repartition(4)
    write_version(spark, scattered, table, mode="append")
    return inc


def test_incremental_optimize_rewrites_only_scattered(spark, table):
    _clustered_then_scattered(spark, table)
    want = sorted(r["id"] for r in read_version(spark, table).collect())
    r = optimize_table(
        spark, table, cluster_by=["id"], incremental=True
    )
    # partial: the 8 clustered files carried by identity
    assert r["files_rewritten"] > 0
    assert r["files_carried"] >= 8
    assert r["files_rewritten"] + r["files_carried"] == r["files_after"] \
        or r["files_rewritten"] < r["files_before"]
    assert r["avg_point_reads_after"] < r["avg_point_reads_before"]
    # content untouched
    got = sorted(x["id"] for x in read_version(spark, table).collect())
    assert got == want
    # carried files are literally v2's (identity, not rewritten)
    m2 = load_manifest(table, 2)
    m3 = load_manifest(table, r["version"])
    assert set(m3["files"]) & set(m2["files"])


def test_incremental_optimize_noop_when_clustered(spark, table):
    write_version(
        spark,
        spark.range(5000).select(F.col("id"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(8, F.col("id")),
        table,
        stats_cols=["id"],
    )
    head = load_manifest(table, None)["version"]
    r = optimize_table(spark, table, cluster_by=["id"], incremental=True)
    assert r["files_rewritten"] == 0
    assert r["version"] == head  # no commit happened


def test_incremental_optimize_requires_stats(spark, table):
    write_version(spark, _df(spark).repartition(4), table)
    with pytest.raises(ValueError, match="recorded stats"):
        optimize_table(spark, table, cluster_by=["id"], incremental=True)


def test_incremental_optimize_streams_with_change_files(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )
    import uuid as _uuid

    _clustered_then_scattered(spark, table)
    r = optimize_table(
        spark, table, cluster_by=["id"], incremental=True, change_files=True
    )
    assert r["files_rewritten"] > 0
    name = f"inc_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table, starting_version=2)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert spark.table(name).count() == 0  # layout-only commit: zero rows
