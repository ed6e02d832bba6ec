"""RESTORE on versioned tables: an O(manifest) rollback commit that
re-points the head at an earlier version's files/DVs/schema by
reference — zero data files written (the Delta RESTORE / Iceberg
rollback recovery path). Lifecycle coverage: restore over COW and MOR
deletes, across schema evolution, composed with the change data feed,
index chaining, vacuum retention, and branches.

Reference cost profile being replaced: the reference truncate-reloads
per run (/root/reference/dags/bigbookapi.py), so "undo a bad load" is
a full re-extract; here it is one manifest commit.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    create_branch,
    delete_version,
    read_changes,
    read_version,
    read_version_pruned,
    restore_version,
    vacuum,
    write_bloom_index,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, n=100):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 2).alias("v"),
    )


def _manifest(table, version):
    with open(
        os.path.join(table, "_versions", f"v{version:08d}.json")
    ) as fh:
        return json.load(fh)


def _ids(spark, table, **kw):
    return sorted(r["id"] for r in read_version(spark, table, **kw).collect())


def test_restore_undoes_append_and_delete_without_writing_data(spark, table):
    write_version(spark, _df(spark).repartition(4), table)
    write_version(
        spark,
        spark.range(100, 120).select(
            F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
        ),
        table,
        mode="append",
    )
    delete_version(spark, table, "g = 3")
    data_before = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(table, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    r = restore_version(spark, table, 1)
    data_after = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(table, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    assert r["version"] == 4 and r["restored_from"] == 1
    assert r["data_files_written"] == 0
    assert data_before == data_after  # nothing staged, nothing rewritten
    m1, m4 = _manifest(table, 1), _manifest(table, 4)
    assert m4["mode"] == "restore" and m4["restored_from"] == 1
    assert m4["files"] == m1["files"] and m4["n_rows"] == m1["n_rows"]
    assert _ids(spark, table) == list(range(100))
    # history preserved: the undone versions stay time-travel-readable
    assert len(_ids(spark, table, version=2)) == 120
    assert 3 not in {i % 7 for i in _ids(spark, table, version=3)}


def test_restore_to_head_is_identity_commit(spark, table):
    write_version(spark, _df(spark), table)
    r = restore_version(spark, table, 1)
    assert r["version"] == 2
    assert _ids(spark, table) == _ids(spark, table, version=1)


def test_restore_over_mor_resurrects_and_restore_forward_keeps_dvs(spark, table):
    write_version(spark, _df(spark).repartition(3), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    restore_version(spark, table, 1)
    assert _ids(spark, table) == list(range(100))
    # restore forward to the MOR state: DV refs carry, deletes re-apply
    restore_version(spark, table, 2)
    m = _manifest(table, 4)
    assert m["dv_files"] == _manifest(table, 2)["dv_files"] != []
    assert _ids(spark, table) == [i for i in range(100) if i % 10 != 0]


def test_restore_rolls_schema_back(spark, table):
    write_version(spark, _df(spark), table)
    write_version(
        spark,
        _df(spark).withColumn("extra", F.lit("x")),
        table,
        mode="append",
        merge_schema=True,
    )
    assert "extra" in read_version(spark, table).columns
    restore_version(spark, table, 1)
    assert read_version(spark, table).columns == ["id", "g", "v"]


def test_cdf_across_restore_is_the_undo_set_and_scoped(spark, table):
    write_version(spark, _df(spark).repartitionByRange(8, "id"), table)
    delete_version(spark, table, "id >= 90")  # COW: touches last file only
    restore_version(spark, table, 1)
    info: dict = {}
    ch = read_changes(spark, table, 2, 3, info=info).collect()
    assert sorted(r["id"] for r in ch) == list(range(90, 100))
    assert {r["_change_type"] for r in ch} == {"insert"}
    # carried files never open: only the rewritten/readded files scan
    assert info["files_scanned_before"] < info["files_before"]
    assert info["files_scanned_after"] < info["files_after"]


def test_restore_chains_index_from_target(spark, table):
    write_version(spark, _df(spark, 5000).repartitionByRange(4, "id"), table)
    write_bloom_index(spark, table, "id")
    delete_version(spark, table, "id % 100 = 0")  # COW: the file set moves
    r = restore_version(spark, table, 1)
    assert r["index"] == {"id": "chained"}
    idx = os.path.join(table, "_index", "bloom_id", f"v{r['version']:08d}")
    with open(os.path.join(idx, "_params.json")) as fh:
        params = json.load(fh)
    assert params["chain"] == [1]  # zero-increment link onto the target
    df, info = read_version_pruned(spark, table, keys={"id": [100]})
    assert [r["id"] for r in df.collect()] == [100]  # resurrected by restore
    assert info["files_read"] < info["files_total"]


def test_restore_rebuilds_index_when_target_has_none(spark, table):
    write_version(spark, _df(spark, 2000).repartitionByRange(4, "id"), table)
    write_version(spark, _df(spark, 2000).repartitionByRange(4, "id"), table)
    write_bloom_index(spark, table, "id")  # declared at v2: v1 has none
    r = restore_version(spark, table, 1)
    assert r["index"] == {"id": "rebuilt"}
    df, info = read_version_pruned(spark, table, keys={"id": [7]})
    assert [row["id"] for row in df.collect()] == [7]
    assert info["files_read"] < info["files_total"]


def test_vacuum_keeps_files_the_restored_head_references(spark, table):
    write_version(spark, _df(spark), table)
    write_version(spark, _df(spark, 10), table, mode="overwrite")
    restore_version(spark, table, 1)  # v3 re-points at v1's files
    vacuum(table, keep_last=2)  # drops v1's manifest, not its files
    assert _ids(spark, table) == list(range(100))
    with pytest.raises(ValueError, match="not found"):
        read_version(spark, table, version=1).collect()


def test_restore_unknown_version_is_loud(spark, table):
    write_version(spark, _df(spark), table)
    with pytest.raises(ValueError, match="not found"):
        restore_version(spark, table, 9)


def test_restore_on_branch(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "wip")
    write_version(spark, _df(spark, 10), table, mode="overwrite", branch="wip")
    r = restore_version(spark, table, 1, branch="wip")
    assert r["version"] == 3
    assert _ids(spark, table, branch="wip") == list(range(100))
    assert _ids(spark, table) == list(range(100))  # main untouched at v1
