"""Field-id column mapping: metadata-only RENAME and DROP (zero files
rewritten), physical-name reads across any number of renames, time
travel under each version's own names, id-stable CDF/streaming, carry
through clone/restore/branch/optimize, and the loud refusals for
name-addressed machinery."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    clone_table,
    delete_version,
    drop_column,
    enable_column_mapping,
    load_manifest,
    merge_version,
    optimize_table,
    read_changes,
    read_version,
    rename_column,
    restore_version,
    update_version,
    vacuum,
    verify_table,
    write_bloom_index,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo=0, hi=100):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
    )


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---------------------------------------------------------------------------
# rename / drop basics
# ---------------------------------------------------------------------------


def test_rename_is_metadata_only_and_reads_correctly(spark, table):
    write_version(spark, _df(spark).repartition(3), table)
    files_before = list(load_manifest(table, None)["files"])
    v = rename_column(table, "v", "value")
    m = load_manifest(table, v)
    assert m["files"] == files_before  # zero files touched
    got = read_version(spark, table)
    assert got.columns == ["id", "g", "value"]
    assert _rows(got.filter("id < 3"), "id", "value") == [
        (0, 0), (1, 2), (2, 4)
    ]
    # time travel keeps the OLD name
    old = read_version(spark, table, version=1)
    assert old.columns == ["id", "g", "v"]


def test_double_rename_and_rename_back(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    rename_column(table, "value", "amount")
    got = read_version(spark, table)
    assert got.columns == ["id", "g", "amount"]
    assert _rows(got.filter("id = 9"), "amount") == [(18,)]
    # renaming back to the original logical name is fine (physical
    # never moved)
    rename_column(table, "amount", "v")
    assert read_version(spark, table).columns == ["id", "g", "v"]


def test_drop_is_metadata_only_and_time_travel_keeps_it(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    files_before = list(load_manifest(table, None)["files"])
    v = drop_column(table, "g")
    m = load_manifest(table, v)
    assert m["files"] == files_before
    assert read_version(spark, table).columns == ["id", "v"]
    assert read_version(spark, table, version=1).columns == ["id", "g", "v"]


def test_dropped_name_cannot_be_readded(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    drop_column(table, "g")
    with pytest.raises(ValueError, match="previously used"):
        write_version(
            spark,
            _df(spark, 100, 110).coalesce(1),
            table,
            mode="append",
            merge_schema=True,
        )


# ---------------------------------------------------------------------------
# writes + DML after a rename
# ---------------------------------------------------------------------------


def test_append_after_rename_mixes_old_and_new_files(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    inc = spark.range(100, 110).select(
        F.col("id"), (F.col("id") % 7).alias("g"),
        (F.col("id") * 2).alias("value"),
    )
    write_version(spark, inc.coalesce(1), table, mode="append")
    got = read_version(spark, table)
    assert got.count() == 110
    assert _rows(got.filter("id IN (5, 105)"), "id", "value") == [
        (5, 10), (105, 210)
    ]
    # new files store the PHYSICAL name (creation-time name 'v')
    m = load_manifest(table, None)
    assert m["column_mapping"]["fields"]["value"]["physical"] == "v"


def test_dml_under_new_name(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    update_version(spark, table, "id = 4", {"value": "value + 1"})
    delete_version(spark, table, "value > 150")  # ids 76..99
    got = read_version(spark, table)
    assert got.count() == 76
    assert _rows(got.filter("id = 4"), "value") == [(9,)]
    # MOR path too
    delete_version(spark, table, F.col("value") < 10, mode="mor")
    assert read_version(spark, table).count() == 71


def test_merge_after_rename(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    inc = spark.range(95, 105).select(
        F.col("id"), (F.col("id") % 7).alias("g"),
        F.lit(-1).cast("long").alias("value"),
    )
    merge_version(spark, inc, table, keys=["id"])
    got = read_version(spark, table)
    assert got.count() == 105
    assert _rows(got.filter("id IN (94, 95, 104)"), "id", "value") == [
        (94, 188), (95, -1), (104, -1)
    ]


def test_optimize_preserves_mapping(spark, table):
    write_version(spark, _df(spark).repartition(6), table)
    rename_column(table, "v", "value")
    optimize_table(spark, table)
    got = read_version(spark, table)
    assert got.columns == ["id", "g", "value"]
    assert got.count() == 100
    m = load_manifest(table, None)
    # ids carried across the overwrite; physical resets are refused by
    # design, the persisting logical keeps its frozen physical
    assert m["column_mapping"]["fields"]["value"]["physical"] == "v"


# ---------------------------------------------------------------------------
# CDF + streaming stay id-stable across renames
# ---------------------------------------------------------------------------


def test_cdf_across_rename_has_no_phantom_churn(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    enable_column_mapping(table)  # v2
    rename_column(table, "v", "value")  # v3
    write_version(
        spark,
        spark.range(100, 105).select(
            F.col("id"), (F.col("id") % 7).alias("g"),
            (F.col("id") * 2).alias("value"),
        ).coalesce(1),
        table,
        mode="append",
    )  # v4
    info = {}
    rows = read_changes(spark, table, 1, 4, info=info).collect()
    # the rename itself contributes NOTHING; only the append shows, and
    # under the NEW logical name
    assert sorted((r["id"], r["_change_type"], r["value"]) for r in rows) == [
        (i, "insert", i * 2) for i in range(100, 105)
    ]
    assert info["files_scanned_before"] == 0  # carried files cancel driver-side


def test_stream_over_renamed_table(spark, table):
    import uuid as _uuid

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    write_version(
        spark,
        spark.range(100, 103).select(
            F.col("id"), (F.col("id") % 7).alias("g"),
            (F.col("id") * 2).alias("value"),
        ).coalesce(1),
        table,
        mode="append",
    )
    name = f"cm_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table, starting_version=2)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.table(name).localCheckpoint(eager=True)
    assert sorted((r["id"], r["value"]) for r in got.collect()) == [
        (100, 200), (101, 202), (102, 204)
    ]


def test_change_files_under_mapping(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    delete_version(spark, table, "value < 10", change_files=True)
    info = {}
    rows = read_changes(spark, table, 2, 3, info=info).collect()
    assert info["change_files_used"] >= 1
    assert sorted((r["id"], r["value"]) for r in rows) == [
        (i, i * 2) for i in range(5)
    ]


# ---------------------------------------------------------------------------
# carry: clone / restore / branch / vacuum / fsck
# ---------------------------------------------------------------------------


def test_clone_and_restore_carry_mapping(spark, table, tmp_path):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    dst = str(tmp_path / "cl")
    clone_table(table, dst)
    assert read_version(spark, dst).columns == ["id", "g", "value"]
    # restore to the PRE-rename version rolls the names back...
    restore_version(spark, table, 1)
    assert read_version(spark, table).columns == ["id", "g", "v"]
    # ...and restoring forward re-applies them
    restore_version(spark, table, 2)
    assert read_version(spark, table).columns == ["id", "g", "value"]


def test_branch_carries_mapping(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        create_branch,
        publish_branch,
    )

    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    create_branch(table, "wap")
    write_version(
        spark,
        spark.range(100, 105).select(
            F.col("id"), (F.col("id") % 7).alias("g"),
            (F.col("id") * 2).alias("value"),
        ).coalesce(1),
        table,
        mode="append",
        branch="wap",
    )
    assert read_version(spark, table, branch="wap").count() == 105
    publish_branch(table, "wap")
    got = read_version(spark, table)
    assert got.columns == ["id", "g", "value"] and got.count() == 105


def test_fsck_mapping_consistent(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    rep = verify_table(spark, table, deep=True)
    assert rep["ok"]
    assert rep["checks"]["mapping_consistent"]["ok"]


def test_vacuum_under_mapping(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    write_version(
        spark,
        _df(spark, 0, 50).withColumnRenamed("v", "value").coalesce(2),
        table,
    )  # overwrite keeps the renamed logical → same field id
    res = vacuum(table, keep_last=1)
    assert res["versions_dropped"] == 2
    got = read_version(spark, table)
    assert got.columns == ["id", "g", "value"] and got.count() == 50


# ---------------------------------------------------------------------------
# refusals
# ---------------------------------------------------------------------------


def test_rename_refusals(spark, table):
    write_version(
        spark,
        _df(spark).withColumn("p", (F.col("id") % 2).cast("string"))
        .repartition("p"),
        table,
        partition_by=["p"],
        stats_cols=["id"],
        check_constraints={"pos": "v >= 0"},
    )
    with pytest.raises(ValueError, match="constraint"):
        rename_column(table, "v", "value")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(table, "g", "v")
    with pytest.raises(ValueError, match="reserved"):
        rename_column(table, "g", "_change_type")
    with pytest.raises(ValueError, match="not in schema"):
        rename_column(table, "nope", "x")


def test_drop_refusals(spark, table):
    write_version(spark, _df(spark).select("id").coalesce(1), table)
    with pytest.raises(ValueError, match="last column"):
        drop_column(table, "id")


def test_drop_partition_column_refused_even_after_rename(spark, table):
    """DROP of a partition column stays refused (the layout cannot
    exist without its key) — including under its post-rename logical
    name, where the physical-keyed membership check must translate."""
    write_version(
        spark,
        _df(spark).withColumn("p", (F.col("id") % 2).cast("string"))
        .repartition("p"),
        table,
        partition_by=["p"],
    )
    rename_column(table, "p", "bucket")
    with pytest.raises(ValueError, match="partition column"):
        drop_column(table, "bucket")


# ---------------------------------------------------------------------------
# round 13: stats + Bloom indexes survive renames (physical-keyed)
# ---------------------------------------------------------------------------


def test_stats_covered_column_renames_and_prunes(spark, table):
    """rename_column on a stats-covered column succeeds (round 13 —
    recorded envelopes are keyed by the frozen physical name); range
    pruning under the NEW name still skips files with zero footer
    reads, and later appends keep recording coverage."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    write_version(
        spark,
        _df(spark).repartitionByRange(4, "id"),
        table,
        stats_cols=["id"],
    )
    v = rename_column(table, "id", "key")
    m = load_manifest(table, v)
    assert m["stats_cols"] == ["key"]  # logical list follows the rename
    df, info = read_version_pruned(spark, table, ranges={"key": (0, 10)})
    assert info["files_read"] < info["files_total"]
    assert info["footer_files"] == 0  # recorded envelopes, zero I/O
    assert sorted(r["key"] for r in df.collect()) == list(range(11))
    # appends under the new name keep the physical-keyed coverage
    write_version(
        spark,
        _df(spark, 200, 300)
        .withColumnRenamed("id", "key")
        .repartitionByRange(2, "key"),
        table,
        mode="append",
    )
    df2, info2 = read_version_pruned(spark, table, ranges={"key": (250, 260)})
    assert info2["footer_files"] == 0
    assert info2["files_read"] < info2["files_total"]
    assert sorted(r["key"] for r in df2.collect()) == list(range(250, 261))


def test_indexed_column_renames_and_prunes(spark, table):
    """rename_column on a Bloom-indexed column succeeds (round 13 —
    index dirs are physical-keyed); equality pruning under the new
    name probes the existing chain, and incremental maintenance keeps
    chaining across later appends."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        index_params,
        read_version_pruned,
    )

    write_version(spark, _df(spark).repartition(4), table)
    write_bloom_index(spark, table, "id")
    rename_column(table, "id", "key")
    assert index_params(table, "key") is not None  # resolves via mapping
    df, info = read_version_pruned(spark, table, keys={"key": [7]})
    assert info["files_read"] < info["files_total"]
    assert [r["key"] for r in df.collect()] == [7]
    # chained maintenance under the new logical name
    write_version(
        spark,
        _df(spark, 500, 520).withColumnRenamed("id", "key").coalesce(1),
        table,
        mode="append",
    )
    p = index_params(table, "key")
    assert p is not None and p["chain"]  # chained, not rebuilt
    df2, info2 = read_version_pruned(spark, table, keys={"key": [510]})
    assert info2["files_read"] < info2["files_total"]
    assert [r["key"] for r in df2.collect()] == [510]


def test_incremental_optimize_after_rename(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        optimize_table,
    )

    write_version(
        spark, _df(spark).repartition(4), table, stats_cols=["id"]
    )
    rename_column(table, "id", "key")
    res = optimize_table(
        spark, table, cluster_by=["key"], incremental=True
    )
    assert res["files_rewritten"] > 0
    got = read_version(spark, table)
    assert sorted(r["key"] for r in got.collect()) == list(range(100))


def test_drop_of_stats_column_scrubs_envelopes(spark, table):
    write_version(
        spark,
        _df(spark).coalesce(2),
        table,
        stats_cols=["id", "v"],
    )
    v = drop_column(table, "v")
    m = load_manifest(table, v)
    assert m["stats_cols"] == ["id"]
    assert all("v" not in e for e in m["stats"].values())
    rep = verify_table(spark, table, deep=True)
    assert rep["ok"] and rep["checks"]["stats_envelopes"]["ok"]


def test_partitioned_table_with_renamed_other_column(spark, table):
    """Mapping on a PARTITIONED table: renaming a non-partition column
    leaves the shadow-key layout and manifest value map intact —
    partition pruning still skips files with zero I/O, and appends
    under the new logical name stage physical."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    df = _df(spark).withColumn("p", (F.col("id") % 2).cast("string"))
    write_version(spark, df.repartition("p"), table, partition_by=["p"])
    rename_column(table, "v", "value")
    inc = spark.range(100, 120).select(
        F.col("id"), (F.col("id") % 7).alias("g"),
        (F.col("id") * 2).alias("value"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    write_version(spark, inc.repartition("p"), table, mode="append")
    out, info = read_version_pruned(spark, table, keys={"p": ["1"]})
    assert info["files_read"] < info["files_total"]
    got = sorted(r["id"] for r in out.collect())
    assert got == sorted(i for i in range(120) if i % 2 == 1)
    assert out.columns == ["id", "g", "value", "p"]


# ---------------------------------------------------------------------------
# round 14: partition columns rename (physical-keyed layout)
# ---------------------------------------------------------------------------


def _part_df(spark, lo=0, hi=100):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 3).cast("string").alias("region"),
    )


def test_partition_column_renames_and_prunes(spark, table):
    """rename_column on a PARTITION column (round 14): metadata-only,
    the hive shadow dirs + recorded value maps are physical-keyed so
    pruned reads under the NEW name skip files with zero I/O, appends
    inherit the layout under the new name, and time travel keeps the
    old name."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    write_version(
        spark, _part_df(spark).repartition("region"), table,
        partition_by=["region"],
    )  # v1
    v = rename_column(table, "region", "zone")  # v2, metadata-only
    m = load_manifest(table, v)
    assert m["partition_cols"] == ["region"]  # frozen physical key
    assert m["mode"] == "rename_column"  # zero data files staged
    # pruning under the NEW logical name: manifest-only, no footer I/O
    out, info = read_version_pruned(spark, table, keys={"zone": ["1"]})
    assert info["files_read"] < info["files_total"]
    assert info["partition_skipped"] > 0
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(100) if i % 3 == 1
    ]
    # append inherits the layout (logical name translated to physical)
    write_version(
        spark, _part_df(spark, 100, 130).withColumnRenamed("region", "zone")
        .repartition("zone"),
        table, mode="append",
    )  # v3
    m3 = load_manifest(table, None)
    assert m3["partition_cols"] == ["region"]
    out3, info3 = read_version_pruned(spark, table, keys={"zone": ["2"]})
    assert info3["partition_skipped"] > 0
    assert sorted(r["id"] for r in out3.collect()) == [
        i for i in range(130) if i % 3 == 2
    ]
    # explicit partition_by under the new name matches the layout too
    write_version(
        spark, _part_df(spark, 130, 140).withColumnRenamed("region", "zone")
        .repartition("zone"),
        table, mode="append", partition_by=["zone"],
    )  # v4
    # time travel: v1 reads under the ORIGINAL name
    old = read_version(spark, table, version=1)
    assert "region" in old.columns and "zone" not in old.columns


def test_partition_rename_append_old_name_refused(spark, table):
    """After the rename the OLD logical name no longer exists — an
    append still carrying it fails the schema check loudly instead of
    silently forking the layout."""
    write_version(
        spark, _part_df(spark).repartition("region"), table,
        partition_by=["region"],
    )
    rename_column(table, "region", "zone")
    with pytest.raises(Exception, match="region|schema"):
        write_version(
            spark, _part_df(spark, 100, 110).repartition("region"),
            table, mode="append", partition_by=["region"],
        )


def test_overwrite_partitions_after_rename(spark, table):
    """overwrite_partitions scopes by the CURRENT logical name after a
    partition-column rename: in-scope files drop unopened, out-of-scope
    carry unopened, and the replacement stages under the frozen
    physical dir key."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    write_version(
        spark, _part_df(spark).repartition("region"), table,
        partition_by=["region"],
    )
    rename_column(table, "region", "zone")
    repl = spark.range(1000, 1010).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
        F.lit("1").alias("zone"),
    )
    rep = overwrite_partitions(
        spark, repl, table, partition_scope={"zone": ["1"]}
    )
    assert rep["files_replaced"] > 0 and rep["files_rewritten"] == 0
    cur = read_version(spark, table)
    ids = sorted(r["id"] for r in cur.filter(F.col("zone") == "1").collect())
    assert ids == list(range(1000, 1010))
    n_other = cur.filter(F.col("zone") != "1").count()
    assert n_other == sum(1 for i in range(100) if i % 3 != 1)
    # derived scope (no partition_scope) resolves the logical name too
    repl2 = repl.withColumn("zone", F.lit("2"))
    rep2 = overwrite_partitions(spark, repl2, table)
    assert rep2["files_replaced"] > 0
    # stale scope column name refuses loudly
    with pytest.raises(ValueError, match="not partition columns"):
        overwrite_partitions(
            spark, repl, table, partition_scope={"region": ["1"]}
        )


def test_dml_partition_scope_after_rename(spark, table):
    """delete_version partition_scope under the renamed name still
    skips out-of-scope files from the manifest alone."""
    write_version(
        spark, _part_df(spark).repartition("region"), table,
        partition_by=["region"],
    )
    rename_column(table, "region", "zone")
    res = delete_version(
        spark, table, None, partition_scope={"zone": ["0"]}
    )
    assert res["n_deleted"] == sum(1 for i in range(100) if i % 3 == 0)
    left = read_version(spark, table)
    assert left.filter(F.col("zone") == "0").count() == 0
    assert left.count() == 100 - res["n_deleted"]


def test_fsck_partition_purity_after_rename(spark, table):
    """Deep fsck's partition-purity audit scans with the PHYSICAL
    schema, so a renamed partition column still verifies against the
    recorded value map."""
    write_version(
        spark, _part_df(spark).repartition("region"), table,
        partition_by=["region"],
    )
    rename_column(table, "region", "zone")
    rep = verify_table(spark, table, deep=True)
    assert rep["ok"], rep
    assert rep["checks"]["partition_purity"]["ok"]


def test_restore_change_files_across_rename(spark, table):
    """A restore whose undo set spans a rename: the recorded change
    file must store the column under its frozen PHYSICAL name even
    though the undo frame carries the pre-restore HEAD's logical name
    — otherwise every consumer NULL-fills the renamed column's values
    (the round-12 review finding)."""
    write_version(spark, _df(spark).coalesce(2), table)  # v1
    enable_column_mapping(table)  # v2
    rename_column(table, "v", "value")  # v3
    delete_version(spark, table, "id < 10")  # v4 (bad commit)
    restore_version(spark, table, 2, change_files=True)  # v5 → names roll back to 'v'
    rows = read_changes(spark, table, 4, 5).collect()
    got = sorted((r["id"], r["_change_type"], r["v"]) for r in rows)
    # the undo re-inserts the deleted rows WITH their values intact
    assert got == [(i, "insert", i * 2) for i in range(10)]


def test_stream_does_not_resurrect_reused_physical(spark, table):
    """Per-version id resolution: after a drop + an overwrite that
    REUSES the retired physical name for a NEW field id, streaming the
    pre-overwrite commits must deliver NULL for the new column — never
    the dropped column's old bytes (the round-12 review finding)."""
    import uuid as _uuid

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _col_mapping,
        _rebuild_mapping,
        _write_change_files,
        load_manifest,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    base = spark.range(20).select(
        F.col("id"), (F.col("id") * 2).alias("a")
    )
    write_version(spark, base.coalesce(1), table)  # v1 (physical 'a')
    enable_column_mapping(table)  # v2
    drop_column(table, "a")  # v3 — physical 'a' retired
    # v4: overwrite re-adds logical 'a' (NEW field id, physical 'a'
    # reused — allowed on overwrite) via the low-level change_files
    # hook so the stream can cross it
    new = spark.range(20).select(
        F.col("id"), (F.col("id") * 7).alias("a")
    )
    cur = read_version(spark, table)  # (id)
    eff_map = _rebuild_mapping(
        _col_mapping(load_manifest(table, None)), new.schema
    )
    changes = cur.withColumn("_change_type", F.lit("delete")).unionByName(
        new.withColumn("_change_type", F.lit("insert")),
        allowMissingColumns=True,
    )
    cf = _write_change_files(spark, changes, table, eff_map)
    write_version(spark, new.coalesce(1), table, change_files=cf)  # v4

    name = f"res_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.table(name).localCheckpoint(eager=True)
    v1 = got.filter(F.col("_commit_version") == 1)
    # v1 rows: the OLD field's bytes (id*2) must NOT surface under the
    # new 'a' — the new field id did not exist at v1
    assert v1.count() == 20
    assert v1.filter(F.col("a").isNotNull()).count() == 0
    # v4's recorded set delivers the new values
    v4_ins = got.filter(
        (F.col("_commit_version") == 4) & (F.col("_change_type") == "insert")
    )
    assert sorted(r["a"] for r in v4_ins.collect()) == sorted(
        i * 7 for i in range(20)
    )


# ---------------------------------------------------------------------------
# model-based lifecycle + plan shape
# ---------------------------------------------------------------------------


def test_randomized_mapping_lifecycle_vs_model(spark, tmp_path):
    """Deterministic randomized sequences of rename/drop/append against
    a plain-Python model of the logical table: after every op the
    mapped read must equal the model (names AND values), and every
    historical version must replay under its own names."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        t = str(tmp_path / f"m{seed}")
        # model: list of (logical_name, values) columns; rows keyed by idx
        n0 = 30
        cols = {"id": list(range(n0)), "c1": [i * 2 for i in range(n0)],
                "c2": [i * 3 for i in range(n0)]}
        order = ["id", "c1", "c2"]
        df = spark.createDataFrame(
            list(zip(*[cols[c] for c in order])), order
        )
        write_version(spark, df.coalesce(1), t)
        enable_column_mapping(t)
        history = {}  # version -> (order snapshot)
        next_col = 3
        next_row = n0
        for _ in range(6):
            op = rng.choice(["rename", "drop", "append", "add_col"])
            if op == "rename" and len(order) > 1:
                old = rng.choice(order[1:])  # keep 'id'
                new = f"r{next_col}"; next_col += 1
                rename_column(t, old, new)
                cols[new] = cols.pop(old)
                order[order.index(old)] = new
            elif op == "drop" and len(order) > 2:
                victim = rng.choice(order[1:])
                drop_column(t, victim)
                cols.pop(victim)
                order.remove(victim)
            elif op == "append":
                k = 10
                inc_cols = {c: [next_row + i if c == "id" else (next_row + i) * 5
                                for i in range(k)] for c in order}
                inc = spark.createDataFrame(
                    list(zip(*[inc_cols[c] for c in order])), order
                )
                write_version(spark, inc.coalesce(1), t, mode="append")
                for c in order:
                    cols[c] = cols[c] + inc_cols[c]
                next_row += k
            elif op == "add_col":
                new = f"a{next_col}"; next_col += 1
                k = 10
                inc_cols = {c: [next_row + i if c == "id" else (next_row + i) * 5
                                for i in range(k)] for c in order}
                inc_cols[new] = [(next_row + i) * 9 for i in range(k)]
                inc = spark.createDataFrame(
                    list(zip(*[inc_cols[c] for c in order + [new]])),
                    order + [new],
                )
                try:
                    write_version(
                        spark, inc.coalesce(1), t, mode="append",
                        merge_schema=True,
                    )
                except ValueError:
                    continue  # retired-name reuse refused — model unchanged
                nrows = len(cols["id"])
                cols[new] = [None] * nrows + inc_cols[new]
                for c in order:
                    cols[c] = cols[c] + inc_cols[c]
                order.append(new)
                next_row += k
            # invariant: mapped read == model
            got = read_version(spark, t)
            assert got.columns == order, (seed, got.columns, order)
            want = sorted(zip(*[cols[c] for c in order]))
            have = sorted(
                tuple(r[c] for c in order) for r in got.collect()
            )
            assert have == want, f"seed {seed}: mismatch after {op}"
            from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
                load_manifest,
            )
            history[load_manifest(t, None)["version"]] = list(order)
        # every historical version replays under its own names
        for v, names in history.items():
            assert read_version(spark, t, version=v).columns == names


def test_mapped_read_adds_no_shuffle(spark, table):
    """The physical→logical aliasing is one Project — a mapped read
    must plan ZERO exchanges, same as an unmapped scan."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.plans.introspect import (
        shuffle_count,
    )

    write_version(spark, _df(spark).coalesce(2), table)
    rename_column(table, "v", "value")
    got = read_version(spark, table).filter("id < 50")
    assert shuffle_count(got) == 0
    assert sorted(r["value"] for r in got.collect()) == sorted(
        i * 2 for i in range(50)
    )


# ---------------------------------------------------------------------------
# round 13: NESTED field ids (struct + array-of-struct)
# ---------------------------------------------------------------------------


def _nested_df(spark):
    return spark.createDataFrame(
        [
            (1, {"a": 5, "b": "x"}, [{"i": 1, "n": "p"}, {"i": 2, "n": "q"}]),
            (2, None, None),
        ],
        "k int, meta struct<a:int,b:string>, "
        "items array<struct<i:int,n:string>>",
    )


def test_nested_rename_is_metadata_only(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)
    files_before = list(load_manifest(table, None)["files"])
    v = rename_column(table, "items.i", "part_id")
    m = load_manifest(table, v)
    assert m["files"] == files_before  # zero files touched
    e = m["column_mapping"]["fields"]["items"]
    assert e["nested"]["part_id"]["physical"] == "i"
    got = read_version(spark, table)
    assert got.schema["items"].dataType.elementType.names == ["part_id", "n"]
    rows = {r["k"]: r["items"] for r in got.collect()}
    assert [x["part_id"] for x in rows[1]] == [1, 2]
    assert rows[2] is None  # NULL arrays/structs survive the rename cast


def test_nested_rename_deep_and_null_struct(spark, table):
    df = spark.createDataFrame(
        [(1, {"outer": {"x": 7}}), (2, None)],
        "k int, nest struct<outer:struct<x:int>>",
    )
    write_version(spark, df.coalesce(1), table)
    rename_column(table, "nest.outer.x", "y")
    rename_column(table, "nest.outer", "inner")  # intermediate rename
    m = load_manifest(table, None)
    nested = m["column_mapping"]["fields"]["nest"]["nested"]
    # descendant key rode the prefix rewrite; physicals stay frozen
    assert nested["inner"]["physical"] == "outer"
    assert nested["inner.y"]["physical"] == "x"
    got = {r["k"]: r["nest"] for r in read_version(spark, table).collect()}
    assert got[1]["inner"]["y"] == 7
    assert got[2] is None


def test_nested_rename_time_travel_keeps_old_names(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2
    old = read_version(spark, table, version=1)
    assert old.schema["items"].dataType.elementType.names == ["i", "n"]
    assert read_version(spark, table).schema[
        "items"
    ].dataType.elementType.names == ["part_id", "n"]


def test_append_and_dml_under_nested_rename(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2
    inc = spark.createDataFrame(
        [(3, {"a": 7, "b": "y"}, [{"part_id": 9, "n": "r"}])],
        "k int, meta struct<a:int,b:string>, "
        "items array<struct<part_id:int,n:string>>",
    )
    write_version(spark, inc.coalesce(1), table, mode="append")  # v3
    got = {r["k"]: r["items"] for r in read_version(spark, table).collect()}
    assert [x["part_id"] for x in got[1]] == [1, 2]
    assert [x["part_id"] for x in got[3]] == [9]
    # DML rewrite: old + new files both project through the mapping
    update_version(spark, table, "k = 1", {"k": "k + 10"})  # v4
    got2 = {r["k"]: r["items"] for r in read_version(spark, table).collect()}
    assert [x["part_id"] for x in got2[11]] == [1, 2]


def test_cdf_crosses_nested_rename_by_id(spark, table):
    """A range crossing the nested rename diffs the column AS ITSELF —
    only real changes appear, under the to-side nested names."""
    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    enable_column_mapping(table)  # v2
    rename_column(table, "items.i", "part_id")  # v3
    inc = spark.createDataFrame(
        [(3, {"a": 7, "b": "y"}, [{"part_id": 9, "n": "r"}])],
        "k int, meta struct<a:int,b:string>, "
        "items array<struct<part_id:int,n:string>>",
    )
    write_version(spark, inc.coalesce(1), table, mode="append")  # v4
    ch = read_changes(spark, table, 2, 4)
    assert ch.schema["items"].dataType.elementType.names == ["part_id", "n"]
    rows = ch.collect()
    assert [(r["k"], r["_change_type"]) for r in rows] == [(3, "insert")]


def test_change_files_fast_path_under_nested_rename(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2
    update_version(spark, table, "k = 1", {"k": "k + 10"}, change_files=True)
    info = {}
    rows = read_changes(spark, table, 2, 3, info=info).collect()
    assert info["change_files_used"] >= 1
    assert info["files_scanned_before"] == 0
    got = sorted((r["k"], r["_change_type"]) for r in rows)
    assert got == [(1, "delete"), (11, "insert")]
    by_k = {r["k"]: r["items"] for r in rows}
    assert [x["part_id"] for x in by_k[11]] == [1, 2]


def test_nested_drop_is_metadata_only(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)
    files_before = list(load_manifest(table, None)["files"])
    v = drop_column(table, "meta.b")
    m = load_manifest(table, v)
    assert m["files"] == files_before
    assert m["column_mapping"]["fields"]["meta"]["nested_dropped"] == ["b"]
    got = read_version(spark, table)
    assert got.schema["meta"].dataType.names == ["a"]
    # time travel still shows the dropped field
    assert read_version(spark, table, version=1).schema[
        "meta"
    ].dataType.names == ["a", "b"]


def test_nested_drop_last_field_refused(spark, table):
    df = spark.createDataFrame([(1, {"x": 2})], "k int, s struct<x:int>")
    write_version(spark, df.coalesce(1), table)
    with pytest.raises(ValueError, match="last field"):
        drop_column(table, "s.x")


def test_nested_path_guards(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)
    with pytest.raises(ValueError, match="not found"):
        rename_column(table, "items.zzz", "w")
    with pytest.raises(ValueError, match="not a struct"):
        rename_column(table, "k.x", "w")
    with pytest.raises(ValueError, match="already exists beside"):
        rename_column(table, "items.i", "n")
    with pytest.raises(ValueError, match="valid nested leaf"):
        rename_column(table, "items.i", "a.b")


def test_stream_translates_nested_rename(spark, table):
    """The change stream delivers pre-rename AND post-rename files
    under the head's nested logical names — the Arrow-side rebuild by
    frozen physical name (round 13), NULL structs preserved."""
    import uuid as _uuid

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2
    inc = spark.createDataFrame(
        [(3, {"a": 7, "b": "y"}, [{"part_id": 9, "n": "r"}])],
        "k int, meta struct<a:int,b:string>, "
        "items array<struct<part_id:int,n:string>>",
    )
    write_version(spark, inc.coalesce(1), table, mode="append")  # v3
    name = f"nstr_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {r["k"]: r for r in spark.table(name).collect()}
    assert got[1]["items"][0]["part_id"] == 1  # pre-rename file, new name
    assert got[2]["items"] is None  # NULL array survived the rebuild
    assert got[3]["items"][0]["part_id"] == 9  # post-rename file
    assert all(r["_change_type"] == "insert" for r in got.values())


def test_stream_translates_nested_drop(spark, table):
    """Post-drop reads ignore the extra field still present in old
    files — by-name subset matching in the Arrow rebuild."""
    import uuid as _uuid

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    drop_column(table, "meta.b")  # v2
    name = f"ndrp_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {r["k"]: r for r in spark.table(name).collect()}
    assert got[1]["meta"].asDict() == {"a": 5}  # b gone, a intact
    assert got[2]["meta"] is None


def test_stream_translates_retyped_physical_leaf(spark, table):
    """A restructuring overwrite that RETYPES a shared physical leaf —
    the one nested shape round 13 refused at plan time — now DELIVERS:
    nested resolution is per version (round 14), so pre-overwrite files
    read their own shape and the leaf rides Arrow's safe cast to the
    head type (int → string here)."""
    import uuid as _uuid

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    enable_column_mapping(table)  # v2
    retyped = spark.createDataFrame(
        [(9, {"a": 1, "b": "z"}, [{"i": "now-a-string", "n": "w"}])],
        "k int, meta struct<a:int,b:string>, "
        "items array<struct<i:string,n:string>>",
    )
    # low-level hook: assert an (empty) change set so the stream's own
    # translation (not a recorded change file) serves the old versions
    write_version(
        spark, retyped.coalesce(1), table, mode="overwrite", change_files=[]
    )  # v3
    name = f"nrt_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {r["k"]: r for r in spark.table(name).collect()}
    # v1 rows deliver under the head shape: the retyped leaf casts
    assert [it.asDict() for it in got[1]["items"]] == [
        {"i": "1", "n": "p"},
        {"i": "2", "n": "q"},
    ]
    assert got[1]["meta"].asDict() == {"a": 5, "b": "x"}
    assert got[2]["items"] is None and got[2]["meta"] is None
    # the overwrite's recorded (empty) change set contributes nothing
    assert 9 not in got


def test_stream_nested_resurrection_nulls(spark, table):
    """Per-version nested resolution's id guard: a leaf renamed AWAY
    (items.i → part_id) and then re-created by a restructuring
    overwrite under the old name is a NEW field — streaming the
    pre-rename versions must deliver NULL for it, never the renamed
    field's old bytes."""
    import uuid as _uuid

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2 — mints the map
    recreated = spark.createDataFrame(
        [(9, {"a": 1, "b": "z"}, [{"i": 77, "n": "w"}])],
        "k int, meta struct<a:int,b:string>, "
        "items array<struct<i:int,n:string>>",
    )
    write_version(
        spark, recreated.coalesce(1), table, mode="overwrite",
        change_files=[],
    )  # v3 — resets nested state; 'i' is a NEW field by construction
    name = f"nres_{_uuid.uuid4().hex[:8]}"
    q = (
        read_changes_stream(spark, table)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = {r["k"]: r for r in spark.table(name).collect()}
    # v1's bytes under physical 'i' belonged to the renamed-away
    # part_id — the head's re-created 'i' reads NULL there; 'n' is the
    # same field throughout and keeps its values
    assert [it.asDict() for it in got[1]["items"]] == [
        {"i": None, "n": "p"},
        {"i": None, "n": "q"},
    ]


def test_overwrite_restructure_resets_nested_state(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2
    drop_column(table, "meta.b")  # v3
    # overwrite restructures both columns outright
    new = spark.createDataFrame(
        [(1, {"z": 1.5}, [{"q": 4}])],
        "k int, meta struct<z:double>, items array<struct<q:int>>",
    )
    v = write_version(spark, new.coalesce(1), table, mode="overwrite")
    m = load_manifest(table, v)
    e_items = m["column_mapping"]["fields"]["items"]
    e_meta = m["column_mapping"]["fields"]["meta"]
    assert not e_items.get("nested") and not e_items.get("nested_dropped")
    assert not e_meta.get("nested") and not e_meta.get("nested_dropped")
    got = read_version(spark, table).collect()
    assert got[0]["items"][0]["q"] == 4


def test_fsck_audits_nested_mapping(spark, table):
    write_version(spark, _nested_df(spark).coalesce(1), table)
    rename_column(table, "items.i", "part_id")
    rep = verify_table(spark, table)
    assert rep["ok"] and rep["checks"]["mapping_consistent"]["ok"]


# ---------------------------------------------------------------------------
# round 13 review-pass regressions
# ---------------------------------------------------------------------------


def test_overwrite_halfmatching_restructure_resets_nested(spark, table):
    """A restructuring overwrite whose NEW shape still resolves a
    renamed path must STILL reset the nested state — a stale entry
    (part_id → physical 'i') beside a new literal sibling 'i' would
    stage a duplicate-field struct."""
    write_version(
        spark,
        spark.createDataFrame(
            [(1, [{"i": 1, "n": "p"}])],
            "k int, items array<struct<i:int,n:string>>",
        ).coalesce(1),
        table,
    )
    rename_column(table, "items.i", "part_id")  # entry part_id -> 'i'
    new = spark.createDataFrame(
        [(2, [{"part_id": 9, "i": "x"}])],
        "k int, items array<struct<part_id:int,i:string>>",
    )
    v = write_version(spark, new.coalesce(1), table, mode="overwrite")
    m = load_manifest(table, v)
    e = m["column_mapping"]["fields"]["items"]
    assert not e.get("nested")  # reset, no stale entry survived
    got = read_version(spark, table).collect()
    assert got[0]["items"][0]["part_id"] == 9
    assert got[0]["items"][0]["i"] == "x"
    rep = verify_table(spark, table)
    assert rep["ok"]


def test_record_changes_overwrite_refuses_type_reshape(spark, table):
    """Same column NAMES but a changed TYPE is still a reshape — the
    pointed refusal must fire before anything stages."""
    write_version(spark, _df(spark, 0, 10).coalesce(1), table)
    reshaped = spark.createDataFrame(
        [(1, 1, "not-a-long")], "id long, g long, v string"
    )
    with pytest.raises(ValueError, match="reshapes the schema"):
        write_version(
            spark, reshaped, table, mode="overwrite", record_changes=True
        )
    import os as _os

    assert not _os.path.isdir(_os.path.join(table, "_change_data"))
    # and no orphan staging beyond v1's own data
    m = load_manifest(table, 1)
    data_root = _os.path.join(table, "data")
    staged_dirs = set(_os.listdir(data_root))
    referenced = {
        _os.path.basename(_os.path.dirname(f)) for f in m["files"]
    }
    assert staged_dirs == referenced


def test_stream_nested_refusal_is_not_retention_error(spark, table):
    """A range crossing an unrecorded restructure must surface the
    rewrite refusal (with the change_files hatch), not get rewrapped as
    a vacuum-retention error with re-bootstrap advice that would hit
    the same wall."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    write_version(spark, _nested_df(spark).coalesce(1), table)  # v1
    rename_column(table, "items.i", "part_id")  # v2: nested state
    # v3 overwrite restructures → head mapping clean, reader inits fine
    write_version(
        spark,
        spark.createDataFrame(
            [(5, {"a": 1, "b": "z"}, [{"q": 2}])],
            "k int, meta struct<a:int,b:string>, items array<struct<q:int>>",
        ).coalesce(1),
        table,
        mode="overwrite",
    )
    import uuid as _uuid

    df = read_changes_stream(spark, table, starting_version=1)
    with pytest.raises(StreamingQueryException) as ei:
        q = (
            df.writeStream.format("memory")
            .queryName(f"nref_{_uuid.uuid4().hex[:8]}")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    assert "change_files=True" in str(ei.value)
    assert "vacuum retention" not in str(ei.value)


def test_vacuum_keeps_walkback_index_dir(spark, table):
    """Metadata-only commits after the last data commit must not let
    vacuum sweep the index dir their probes walk back to."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        add_constraint,
        read_version_pruned,
        vacuum,
    )

    write_version(spark, _df(spark).repartition(4), table)
    write_bloom_index(spark, table, "id")
    rename_column(table, "v", "value")  # v2 metadata-only
    add_constraint(spark, table, "pos", "id >= 0")  # v3 metadata-only
    vacuum(table, keep_last=2)  # retains v2+v3 only — v1 drops
    df, info = read_version_pruned(spark, table, keys={"id": [7]})
    assert info["files_read"] < info["files_total"]  # still prunes
    assert [r["id"] for r in df.collect()] == [7]


def test_fsck_flags_duplicate_effective_physicals(spark, table):
    """A hand-corrupted mapping whose renamed leaf collides with a
    literal sibling's implicit physical must fail the audit."""
    import json as _json
    import os as _os

    write_version(
        spark,
        spark.createDataFrame(
            [(1, [{"part_id": 9, "i": "x"}])],
            "k int, items array<struct<part_id:int,i:string>>",
        ).coalesce(1),
        table,
    )
    enable_column_mapping(table)
    mdir = _os.path.join(table, "_versions")
    vs = sorted(_os.listdir(mdir))
    p = _os.path.join(mdir, vs[-1])
    m = _json.load(open(p))
    # simulate the pre-fix stale entry: part_id claims physical 'i'
    m["column_mapping"]["fields"]["items"]["nested"] = {
        "part_id": {"id": 99, "physical": "i"}
    }
    _os.chmod(p, 0o644)
    with open(p, "w") as fh:
        _json.dump(m, fh)
    rep = verify_table(spark, table)
    assert not rep["checks"]["mapping_consistent"]["ok"]
    assert any(
        "duplicate nested physicals" in pr
        for pr in rep["checks"]["mapping_consistent"]["problems"]
    )


def test_literal_dotted_toplevel_column_still_renames(spark, table):
    df = spark.range(3).select(
        F.col("id"), F.col("id").alias("a.b")
    )
    write_version(spark, df.coalesce(1), table)
    v = rename_column(table, "a.b", "ab")
    m = load_manifest(table, v)
    assert "ab" in m["column_mapping"]["fields"]
    got = read_version(spark, table)
    assert got.columns == ["id", "ab"]


def test_round14_features_compose_in_one_lifecycle(spark, table):
    """All round-14 capabilities on ONE table, because interactions are
    where defects hide: hive partitioning + nested stats + nested Bloom
    → partition-column rename + leaf rename + ENCLOSING rename → append
    under the new names (layout, stats coverage and index chain all
    inherit) → scoped partition replace + partition-scoped DELETE under
    the new names → partition/range/Bloom pruning all metadata-only →
    snapshot-diff CDF across every rename by field id → deep fsck."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        delete_version,
        overwrite_partitions,
        read_changes,
        read_version,
        read_version_pruned,
        rename_column,
        verify_table,
        write_version,
    )

    def frame(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.col("id"),
                F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias(
                    "cat"
                ),
                F.struct(
                    (F.col("id") % 100).cast("double").alias("price"),
                    (F.col("id") % 17).cast("long").alias("sku"),
                ).alias("meta"),
            )
            .repartitionByRange(3, "meta.price")
        )

    write_version(
        spark, frame(0, 600), table, partition_by=["cat"],
        stats_cols=["meta.price"],
    )  # v1
    write_bloom_index(spark, table, "meta.sku")
    rename_column(table, "cat", "category")          # v2 metadata-only
    rename_column(table, "meta.price", "cost")       # v3 metadata-only
    rename_column(table, "meta", "info")             # v4 enclosing
    m = load_manifest(table, None)
    assert m["stats_cols"] == ["info.cost"]
    assert m["partition_cols"] == ["cat"]  # frozen physical key
    write_version(
        spark,
        frame(600, 900)
        .withColumnRenamed("cat", "category")
        .withColumnRenamed("meta", "info")
        .withColumn(
            "info",
            F.struct(
                F.col("info.price").alias("cost"),
                F.col("info.sku").alias("sku"),
            ),
        ),
        table,
        mode="append",
    )  # v5 — inherits layout + stats under the new names, chains index
    repl = (
        spark.range(0, 50)
        .select(
            (F.col("id") + 10_000).alias("id"),
            F.lit("c1").alias("category"),
            F.struct(
                F.lit(7.0).alias("cost"), F.lit(3).cast("long").alias("sku")
            ).alias("info"),
        )
    )
    rep = overwrite_partitions(
        spark, repl, table, partition_scope={"category": ["c1"]}
    )  # v6 — scope under the NEW name
    assert rep["files_replaced"] > 0 and rep["files_rewritten"] == 0
    delete_version(
        spark, table, None, partition_scope={"category": ["c2"]}
    )  # v7 — drops the c2 partition wholesale
    # pruning: partition (zero IO), nested range (zero footers), Bloom
    _, pi = read_version_pruned(spark, table, keys={"category": ["c0"]})
    assert pi["partition_skipped"] > 0 and pi["files_read"] < pi["files_total"]
    _, ri = read_version_pruned(spark, table, ranges={"info.cost": (0.0, 20.0)})
    assert ri["files_read"] < ri["files_total"] and ri["footer_files"] == 0
    bdf, bi = read_version_pruned(spark, table, keys={"info.sku": [3]})
    assert bdf.filter(F.col("info.sku") != 3).count() == 0
    # final content: c0 evens/odds survive, c1 replaced, c2 gone
    final = read_version(spark, table)
    assert final.columns == ["id", "category", "info"]
    got = {
        (r["category"], r["cnt"])
        for r in final.groupBy("category").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == {("c0", 300), ("c1", 50)}
    # CDF v1→head NETS the endpoint snapshots across every rename by
    # field id (the pre-mapping v1 resolves through the to-side's
    # frozen physicals, nested layout included): v1's c1/c2 originals
    # LEAVE (200 each — the appended c1/c2 rows entered AND left
    # inside the range, so the net diff correctly drops them), the 50
    # replacements and the 100 appended c0 rows ARRIVE
    ch = read_changes(spark, table, 1, load_manifest(table, None)["version"])
    assert set(ch.columns) == {"id", "category", "info", "_change_type"}
    byt = {
        (r["_change_type"], r["category"]): r["cnt"]
        for r in ch.groupBy("_change_type", "category")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert byt == {("delete", "c1"): 200, ("delete", "c2"): 200,
                   ("insert", "c1"): 50, ("insert", "c0"): 100}
    rep2 = verify_table(spark, table, deep=True)
    assert rep2["ok"]
