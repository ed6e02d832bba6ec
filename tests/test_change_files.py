"""Commit-time change files (the Delta ``_change_data`` pattern):
rewrite commits that record their exact row-level change set become
(a) exactly streamable — the change stream crosses COW delete/update,
OPTIMIZE, replaceWhere and RESTORE instead of refusing — and
(b) exactly diffable with zero snapshot I/O (read_changes' fast path).
Plus lifecycle: vacuum sweep, fsck audit, clash guard, conflict
cleanup."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    CommitConflict,
    delete_version,
    optimize_table,
    overwrite_partitions,
    read_changes,
    read_version,
    restore_version,
    update_version,
    vacuum,
    verify_table,
    write_version,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.versioned_stream import (
    read_changes_stream,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo=0, hi=100):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
    )


def _changes(spark, table, a, b, info=None):
    return sorted(
        (r["id"], r["_change_type"])
        for r in read_changes(spark, table, a, b, info=info).collect()
    )


def _drain(spark, df):
    name = f"cfs_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.table(name).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# recording + read_changes fast path
# ---------------------------------------------------------------------------


def test_cow_delete_records_change_set(spark, table):
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    res = delete_version(spark, table, "id < 10", change_files=True)
    assert res["change_files_added"] >= 1
    info = {}
    got = _changes(spark, table, 1, 2, info=info)
    assert got == [(i, "delete") for i in range(10)]
    # the fast path read the recorded set, not the snapshots
    assert info["files_scanned_before"] == 0
    assert info["files_scanned_after"] == 0
    assert info["change_files_used"] == res["change_files_added"]


def test_fast_path_matches_snapshot_diff(spark, table):
    """Same history twice — with and without recorded change sets —
    must yield identical feeds (the fast path is an optimization, not
    a semantics change)."""
    twin = table + "_twin"
    for t, flag in ((table, True), (twin, False)):
        write_version(spark, _df(spark).repartitionByRange(4, "id"), t)
        update_version(
            spark, t, "id % 10 = 3", {"v": "v + 1000"}, change_files=flag
        )
        delete_version(spark, t, "id >= 90", change_files=flag)
    info_fast, info_slow = {}, {}
    fast = _changes(spark, table, 1, 3, info=info_fast)
    slow = _changes(spark, twin, 1, 3, info=info_slow)
    assert fast == slow
    assert "change_files_used" in info_fast
    assert "change_files_used" not in info_slow


def test_mixed_history_falls_back(spark, table):
    """One commit without a recorded set → snapshot diff (correct,
    just not the fast path)."""
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    delete_version(spark, table, "id < 5", change_files=True)
    delete_version(spark, table, "id >= 95")  # no change files
    info = {}
    got = _changes(spark, table, 1, 3, info=info)
    assert got == sorted(
        [(i, "delete") for i in range(5)]
        + [(i, "delete") for i in range(95, 100)]
    )
    assert "change_files_used" not in info


def test_update_change_set_is_old_and_new_images(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    update_version(
        spark, table, "id = 7", {"v": "v * 10"}, change_files=True
    )
    rows = sorted(
        (r["id"], r["_change_type"], r["v"])
        for r in read_changes(spark, table, 1, 2).collect()
    )
    assert rows == [(7, "delete", 14), (7, "insert", 140)]


def test_mor_delete_change_set(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    res = delete_version(
        spark, table, "id % 11 = 0", mode="mor", change_files=True
    )
    assert res["files_rewritten"] == 0 and res["change_files_added"] >= 1
    info = {}
    got = _changes(spark, table, 1, 2, info=info)
    assert got == [(i, "delete") for i in range(0, 100, 11)]
    assert info["files_scanned_before"] == 0


def test_replace_where_change_set(spark, table):
    df = _df(spark).withColumn("p", (F.col("id") % 2).cast("string"))
    write_version(
        spark, df.repartition("p"), table, partition_by=["p"]
    )
    repl = _df(spark, 200, 210).withColumn("p", F.lit("1"))
    overwrite_partitions(
        spark, repl, table, partition_scope={"p": ["1"]}, change_files=True
    )
    got = _changes(spark, table, 1, 2)
    assert got == sorted(
        [(i, "delete") for i in range(1, 100, 2)]
        + [(i, "insert") for i in range(200, 210)]
    )


def test_optimize_records_empty_set(spark, table):
    write_version(spark, _df(spark).repartition(6), table)
    delete_version(spark, table, "id < 3", mode="mor", change_files=True)
    optimize_table(spark, table, change_files=True)
    # the optimize commit nets zero change rows
    assert _changes(spark, table, 2, 3) == []
    # and the whole range stays on the fast path
    info = {}
    got = _changes(spark, table, 1, 3, info=info)
    assert got == [(i, "delete") for i in range(3)]
    assert "change_files_used" in info


def test_restore_change_set_is_exact_undo(spark, table):
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    delete_version(spark, table, "id < 10")  # bad commit, v2
    write_version(
        spark, _df(spark, 500, 505).coalesce(1), table, mode="append"
    )  # v3
    restore_version(spark, table, 1, change_files=True)  # v4
    got = _changes(spark, table, 3, 4)
    assert got == sorted(
        [(i, "insert") for i in range(10)]
        + [(i, "delete") for i in range(500, 505)]
    )
    # head content equals v1 exactly
    assert read_version(spark, table).count() == 100


# ---------------------------------------------------------------------------
# streaming across rewrites
# ---------------------------------------------------------------------------


def test_stream_crosses_cow_update_and_optimize(spark, table):
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    update_version(
        spark, table, "id % 10 = 3", {"v": "v + 1000"}, change_files=True
    )
    optimize_table(spark, table, change_files=True)
    delete_version(spark, table, "id >= 90", mode="mor")

    got = _drain(spark, read_changes_stream(spark, table))
    by_commit = {
        (r["_commit_version"], r["_change_type"]): r["cnt"]
        for r in got.groupBy("_commit_version", "_change_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert by_commit[(1, "insert")] == 100
    assert by_commit[(2, "delete")] == 10  # old images
    assert by_commit[(2, "insert")] == 10  # new images
    assert (3, "insert") not in by_commit and (3, "delete") not in by_commit
    assert by_commit[(4, "delete")] == 10
    # row-level: the v2 new images carry the updated values
    v2_new = sorted(
        r["v"]
        for r in got.filter(
            (F.col("_commit_version") == 2)
            & (F.col("_change_type") == "insert")
        ).collect()
    )
    assert v2_new == sorted(i * 2 + 1000 for i in range(3, 100, 10))


def test_stream_still_refuses_unrecorded_rewrite(spark, table):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    write_version(spark, _df(spark).coalesce(2), table)
    delete_version(spark, table, "id < 10")  # COW, no change files
    with pytest.raises(StreamingQueryException, match="change_files=True"):
        _drain(spark, read_changes_stream(spark, table))


def test_stream_crosses_restore(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    delete_version(spark, table, "id < 10")  # v2, bad
    restore_version(spark, table, 1, change_files=True)  # v3
    got = _drain(
        spark, read_changes_stream(spark, table, starting_version=2)
    )
    assert sorted(
        (r["id"], r["_change_type"]) for r in got.collect()
    ) == [(i, "insert") for i in range(10)]


# ---------------------------------------------------------------------------
# lifecycle: guards, fsck, vacuum, conflict cleanup
# ---------------------------------------------------------------------------


def test_reserved_column_clash_refused(spark, table):
    df = _df(spark).withColumn("_change_type", F.lit("x"))
    write_version(spark, df.coalesce(1), table)
    with pytest.raises(ValueError, match="_change_type"):
        delete_version(spark, table, "id < 10", change_files=True)


def test_fsck_audits_change_files(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    delete_version(spark, table, "id < 10", change_files=True)
    rep = verify_table(spark, table)
    assert rep["checks"]["change_files_exist"]["ok"]
    # corrupt: remove a recorded change file out-of-band
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
    )

    os.remove(load_manifest(table, None)["change_files"][0])
    rep2 = verify_table(spark, table)
    assert not rep2["ok"]
    assert not rep2["checks"]["change_files_exist"]["ok"]


def test_vacuum_sweeps_unreferenced_change_dirs(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)
    delete_version(spark, table, "id < 10", change_files=True)  # v2
    delete_version(spark, table, "id >= 90", change_files=True)  # v3
    write_version(
        spark, _df(spark, 10, 90).coalesce(2), table
    )  # v4 overwrite
    cf_root = os.path.join(table, "_change_data")
    assert len(os.listdir(cf_root)) == 2
    # keep_last=2 retains v3+v4: v2's change dir is unreferenced
    res = vacuum(table, keep_last=2)
    assert res["change_dirs_dropped"] == 1
    assert len(os.listdir(cf_root)) == 1
    # the retained version's recorded change files survived the sweep
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
    )

    kept = load_manifest(table, 3)["change_files"]
    assert kept and all(os.path.exists(p) for p in kept)


def test_conflict_abort_discards_change_staging(spark, table):
    write_version(spark, _df(spark).coalesce(2), table)  # v1
    write_version(
        spark, _df(spark, 100, 110).coalesce(1), table, mode="append"
    )  # v2
    with pytest.raises(CommitConflict):
        delete_version(
            spark, table, "id < 10", base_version=1, change_files=True
        )
    cf_root = os.path.join(table, "_change_data")
    assert not os.path.isdir(cf_root) or os.listdir(cf_root) == []


# ---------------------------------------------------------------------------
# round 13: MERGE + plain overwrite/append feed the change stream
# ---------------------------------------------------------------------------


def test_merge_change_set_all_three_arms(spark, table):
    """One MERGE commit with insert + update + delete-directive arms
    records exactly its net change set; an incoming row IDENTICAL to
    the existing one records nothing (no logical change)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    write_version(spark, _df(spark, 0, 10).repartitionByRange(3, "id"), table)
    inc = spark.createDataFrame(
        [
            (3, 3 % 7, 9999, False),   # update arm
            (100, 100 % 7, 200, False),  # insert arm (new key)
            (5, None, None, True),     # delete directive arm
            (7, 7 % 7, 14, False),     # identical to existing → no change
            (999, None, None, True),   # directive for absent key → no-op
        ],
        "id long, g long, v long, _del boolean",
    )
    res = merge_version(
        spark, inc, table, keys=["id"], delete_col="_del", change_files=True
    )
    assert res["change_files_added"] >= 1
    info = {}
    got = _changes(spark, table, 1, 2, info=info)
    assert got == [
        (3, "delete"),
        (3, "insert"),
        (5, "delete"),
        (100, "insert"),
    ]
    # the fast path served the recorded set — zero snapshot I/O
    assert info["files_scanned_before"] == 0
    assert info["files_scanned_after"] == 0
    assert info["change_files_used"] == res["change_files_added"]
    # the recorded update's new image carries the assigned value
    v3 = [
        r["v"]
        for r in read_changes(spark, table, 1, 2)
        .filter("id = 3 and _change_type = 'insert'")
        .collect()
    ]
    assert v3 == [9999]


def test_merge_fast_path_matches_snapshot_diff(spark, table):
    """Recorded merge change set == the multiset diff a flag-less twin
    computes (the carried_never_scanned-style oracle property)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    twin = table + "_twin"
    inc_rows = [(i, i % 7, i * 5, i % 3 == 0) for i in range(5, 15)]
    for t, flag in ((table, True), (twin, False)):
        write_version(spark, _df(spark).repartitionByRange(4, "id"), t)
        inc = spark.createDataFrame(
            inc_rows, "id long, g long, v long, _del boolean"
        )
        merge_version(
            spark, inc, t, keys=["id"], delete_col="_del", change_files=flag
        )
    info_fast, info_slow = {}, {}
    fast = _changes(spark, table, 1, 2, info=info_fast)
    slow = _changes(spark, twin, 1, 2, info=info_slow)
    assert fast == slow
    assert "change_files_used" in info_fast
    assert "change_files_used" not in info_slow


def test_stream_crosses_merge(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    write_version(spark, _df(spark, 0, 10).repartitionByRange(3, "id"), table)
    inc = spark.createDataFrame(
        [(3, 3, 9999, False), (100, 2, 200, False), (5, None, None, True)],
        "id long, g long, v long, _del boolean",
    )
    merge_version(
        spark, inc, table, keys=["id"], delete_col="_del", change_files=True
    )
    got = _drain(spark, read_changes_stream(spark, table, starting_version=1))
    assert sorted(
        (r["id"], r["_change_type"]) for r in got.collect()
    ) == [(3, "delete"), (3, "insert"), (5, "delete"), (100, "insert")]
    assert {r["_commit_version"] for r in got.collect()} == {2}


def test_stream_still_refuses_unrecorded_merge(spark, table):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    write_version(spark, _df(spark, 0, 10).coalesce(2), table)
    inc = spark.createDataFrame([(3, 3, 9999)], "id long, g long, v long")
    merge_version(spark, inc, table, keys=["id"])  # no change_files
    with pytest.raises(StreamingQueryException, match="change_files=True"):
        _drain(spark, read_changes_stream(spark, table, starting_version=1))


def test_bootstrap_merge_records_inserts(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
        merge_version,
    )

    inc = spark.createDataFrame(
        [(1, 1, 2, False), (2, 2, 4, True)], "id long, g long, v long, _del boolean"
    )
    res = merge_version(
        spark, inc, table, keys=["id"], delete_col="_del", change_files=True
    )
    assert res["version"] == 1 and res["change_files_added"] >= 1
    m = load_manifest(table, 1)
    assert m["change_files"]
    got = _drain(spark, read_changes_stream(spark, table))
    # the directive against the not-yet-existing key is a no-op
    assert sorted((r["id"], r["_change_type"]) for r in got.collect()) == [
        (1, "insert")
    ]


def test_merge_conflict_discards_change_staging(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    write_version(spark, _df(spark, 0, 10).coalesce(2), table)  # v1
    write_version(
        spark, _df(spark, 100, 105).coalesce(1), table, mode="append"
    )  # v2
    inc = spark.createDataFrame([(3, 3, 9999)], "id long, g long, v long")
    with pytest.raises(CommitConflict):
        merge_version(
            spark, inc, table, keys=["id"], base_version=1, change_files=True
        )
    cf_root = os.path.join(table, "_change_data")
    assert not os.path.isdir(cf_root) or os.listdir(cf_root) == []


def test_merge_reserved_column_clash_refused(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    df = _df(spark, 0, 10).withColumn("_change_type", F.lit("x"))
    write_version(spark, df.coalesce(1), table)
    inc = df.limit(1)
    with pytest.raises(ValueError, match="_change_type"):
        merge_version(spark, inc, table, keys=["id"], change_files=True)


def test_overwrite_record_changes(spark, table):
    """record_changes=True on a plain overwrite: old live rows out,
    new rows in — and the stream crosses the full-replace commit (the
    reference's daily re-extract shape)."""
    write_version(spark, _df(spark, 0, 10).coalesce(2), table)
    # overwrite keeps 0..4 identical, drops 5..9, adds 20..24
    nxt = _df(spark, 0, 5).unionByName(_df(spark, 20, 25))
    write_version(
        spark, nxt.coalesce(2), table, mode="overwrite", record_changes=True
    )
    info = {}
    got = _changes(spark, table, 1, 2, info=info)
    # read_changes NETS the identical 0..4 pairs away
    assert got == [(i, "delete") for i in range(5, 10)] + [
        (i, "insert") for i in range(20, 25)
    ]
    assert info["files_scanned_before"] == 0
    assert info["change_files_used"] >= 1
    # the stream delivers the RECORDED set verbatim (delete+insert of
    # identical rows nets to no state change for any consumer)
    got_s = _drain(
        spark, read_changes_stream(spark, table, starting_version=1)
    )
    by = {
        (r["_change_type"],): r["cnt"]
        for r in got_s.groupBy("_change_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert by[("delete",)] == 10 and by[("insert",)] == 10


def test_append_record_changes_is_increment_only(spark, table):
    write_version(spark, _df(spark, 0, 10).coalesce(2), table)
    write_version(
        spark,
        _df(spark, 50, 53).coalesce(1),
        table,
        mode="append",
        record_changes=True,
    )
    info = {}
    got = _changes(spark, table, 1, 2, info=info)
    assert got == [(i, "insert") for i in range(50, 53)]
    assert info["change_files_used"] >= 1


def test_overwrite_record_changes_refuses_schema_reshape(spark, table):
    write_version(spark, _df(spark, 0, 10).coalesce(1), table)
    reshaped = _df(spark, 0, 5).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="reshapes the schema"):
        write_version(
            spark, reshaped, table, mode="overwrite", record_changes=True
        )
    # nothing staged by the refused write
    assert not os.path.isdir(os.path.join(table, "_change_data"))


def test_overwrite_record_changes_pure_rename(spark, table):
    """A record_changes overwrite whose column set differs ONLY by a
    pure rename (same arity, leftover columns pair 1:1 by position
    with identical types) is accepted as a MAPPED rename (round 14):
    the field id and frozen physical carry, the recorded delete side
    conforms to the NEW name, and the stream/CDF see one field across
    the commit."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _col_mapping,
        load_manifest,
        read_version,
    )

    write_version(spark, _df(spark, 0, 10).coalesce(2), table)  # v1
    nxt = (
        _df(spark, 5, 15)
        .withColumnRenamed("v", "val")
        .coalesce(2)
    )
    write_version(
        spark, nxt, table, mode="overwrite", record_changes=True
    )  # v2 — rename v -> val inside the overwrite
    m2 = load_manifest(table, None)
    cm = _col_mapping(m2)
    assert cm is not None
    assert cm["fields"]["val"]["physical"] == "v"  # id + physical carried
    assert "v" not in cm["fields"]
    rows = read_changes(spark, table, 1, 2).collect()
    got = sorted((r["id"], r["_change_type"], r["val"]) for r in rows)
    # identical (5..9) pairs net away; the feed speaks the NEW name
    assert got == [(i, "delete", i * 2) for i in range(0, 5)] + [
        (i, "insert", i * 2) for i in range(10, 15)
    ]
    # the stream crosses the rename-overwrite under the head name
    got_s = _drain(
        spark, read_changes_stream(spark, table, starting_version=0)
    )
    assert "val" in got_s.columns and "v" not in got_s.columns
    # time travel keeps v1's own name
    assert "v" in read_version(spark, table, version=1).columns


def test_overwrite_record_changes_rename_refusals_stay(spark, table):
    """Genuine reshapes still refuse: a retyped pairing and an
    arity change are not renames."""
    write_version(spark, _df(spark, 0, 10).coalesce(1), table)
    retyped = _df(spark, 0, 5).withColumn(
        "w", F.col("v").cast("string")
    ).drop("v")
    with pytest.raises(ValueError, match="reshapes the schema"):
        write_version(
            spark, retyped, table, mode="overwrite", record_changes=True
        )
    assert not os.path.isdir(os.path.join(table, "_change_data"))


def test_record_changes_and_change_files_mutually_exclusive(spark, table):
    with pytest.raises(ValueError, match="mutually exclusive"):
        write_version(
            spark,
            _df(spark, 0, 5),
            table,
            record_changes=True,
            change_files=[],
        )


# ---------------------------------------------------------------------------
# round 13: retention guards for recorded change sets
# ---------------------------------------------------------------------------


def test_stream_past_swept_change_files_gets_pointed_error(spark, table):
    """A stream resumed past retention of the RECORDED change files
    (manifest still present) fails at plan time with the re-bootstrap
    pointer, never a silent gap or an executor FileNotFoundError."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    write_version(spark, _df(spark).coalesce(2), table)
    delete_version(spark, table, "id < 10", change_files=True)  # v2
    shutil.rmtree(os.path.join(table, "_change_data"))
    with pytest.raises(
        StreamingQueryException, match="change-file retention"
    ):
        _drain(spark, read_changes_stream(spark, table, starting_version=1))


def test_fast_path_degrades_when_change_files_swept(spark, table):
    """read_changes falls back to the snapshot multiset diff when a
    range's recorded change files are gone but the manifests remain —
    same rows, just not the fast path."""
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    delete_version(spark, table, "id < 10", change_files=True)  # v2
    info0 = {}
    want = _changes(spark, table, 1, 2, info=info0)
    assert "change_files_used" in info0
    shutil.rmtree(os.path.join(table, "_change_data"))
    info1 = {}
    got = _changes(spark, table, 1, 2, info=info1)
    assert got == want == [(i, "delete") for i in range(10)]
    assert "change_files_used" not in info1
    assert info1["files_scanned_before"] > 0
