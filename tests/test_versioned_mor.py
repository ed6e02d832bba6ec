"""Merge-on-read DELETE (deletion vectors) on versioned tables:
zero-rewrite commits, read equality with copy-on-write, DV lifecycle
under append / merge / schema evolution / tags / compaction / vacuum.

Reference cost profile being replaced: the reference truncate-reloads
its warehouse table per run (/root/reference/dags/bigbookapi.py), so a
single-row correction rewrites everything; COW delete bounded that to
O(touched files); MOR bounds it to O(deleted rows) — the GDPR-trickle
profile Delta/Iceberg solve with DV sidecars applied at read.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    CommitConflict,
    delete_tag,
    delete_version,
    merge_version,
    read_version,
    read_version_pruned,
    tag_version,
    vacuum,
    versions,
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


def _manifest(table, version=None):
    vdir = os.path.join(table, "_versions")
    names = sorted(f for f in os.listdir(vdir) if f.endswith(".json"))
    name = names[-1] if version is None else f"v{version:08d}.json"
    with open(os.path.join(vdir, name)) as fh:
        return json.load(fh)


def _ids(spark, table, **kw):
    return sorted(r["id"] for r in read_version(spark, table, **kw).collect())


def test_mor_delete_zero_rewrites_and_equals_cow(spark, tmp_path):
    a, b = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (a, b):
        write_version(spark, _df(spark).repartition(4), t)
    ra = delete_version(spark, a, "id % 10 = 0", mode="mor")
    rb = delete_version(spark, b, "id % 10 = 0", mode="cow")
    # the MOR contract: zero data files rewritten, every file carried
    assert ra["files_rewritten"] == 0 and ra["files_carried"] == 4
    assert ra["dv_files_added"] >= 1
    assert set(_manifest(a)["files"]) == set(_manifest(a, 1)["files"])
    # COW rewrote; both read back identically
    assert rb["files_rewritten"] >= 1
    assert ra["n_deleted"] == rb["n_deleted"] == 10
    assert ra["n_rows"] == rb["n_rows"] == 90
    assert _ids(spark, a) == _ids(spark, b)


def test_mor_dvs_accumulate_with_snapshot_isolation(spark, table):
    write_version(spark, _df(spark).repartition(3), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    # overlapping predicate: id 30 already deleted (30 % 10 == 0 and
    # 30 % 7 == 2 → no overlap; use g = 3 where 10/80 overlap is absent)
    r2 = delete_version(spark, table, "g = 3", mode="mor")
    exp2 = sum(1 for i in range(100) if i % 10 != 0 and i % 7 == 3)
    assert r2["n_deleted"] == exp2  # live rows only — no double count
    assert _ids(spark, table) == [
        i for i in range(100) if i % 10 != 0 and i % 7 != 3
    ]
    # every prior snapshot still reads exactly its own DV state
    assert len(_ids(spark, table, version=1)) == 100
    assert _ids(spark, table, version=2) == [
        i for i in range(100) if i % 10 != 0
    ]


def test_mor_redelete_of_deleted_rows_is_noop(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    delete_version(spark, table, "id < 50", mode="mor")
    r = delete_version(spark, table, "id < 50", mode="mor")
    assert r["n_deleted"] == 0 and r["dv_files_added"] == 0
    assert r["n_rows"] == 50
    # no-op delete staged no sidecar dir
    assert len(os.listdir(os.path.join(table, "_dv"))) == 1


def test_mor_delete_everything_reads_empty_without_rewrite(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    r = delete_version(spark, table, "id >= 0", mode="mor")
    assert r["n_deleted"] == 100 and r["files_rewritten"] == 0
    assert read_version(spark, table).count() == 0
    assert len(_manifest(table)["files"]) == 2  # files intact
    assert versions(table)[-1]["n_rows"] == 0


def test_overwrite_compaction_folds_dvs(spark, table):
    write_version(spark, _df(spark).repartition(4), table)
    delete_version(spark, table, "id % 3 = 0", mode="mor")
    before = _ids(spark, table)
    write_version(spark, read_version(spark, table), table, mode="overwrite")
    m = _manifest(table)
    assert not m.get("dv_files")  # folded: rewrite materialized live rows
    assert _ids(spark, table) == before


def test_append_carries_dvs(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    delete_version(spark, table, "id = 17", mode="mor")
    write_version(spark, _df(spark, 110).filter("id >= 100"), table, mode="append")
    got = _ids(spark, table)
    assert 17 not in got and len(got) == 109
    assert _manifest(table)["dv_files"]  # sidecar carried by reference


def test_merge_over_mor_does_not_resurrect_deleted_rows(spark, table):
    write_version(spark, _df(spark).repartition(4), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    # update rows g == 1; files holding them get rewritten — their
    # MOR-deleted rows (e.g. id 50: 50 % 7 == 1, 50 % 10 == 0) must not
    # come back, and untouched files keep their DVs
    inc = (
        spark.range(100)
        .filter((F.col("id") % 7) == 1)
        .filter(F.col("id") % 10 != 0)
        .select("id", F.lit(1).cast("long").alias("g"), (F.col("id") * 10).alias("v"))
    )
    merge_version(spark, inc, table, keys=["id"])
    rows = {r["id"]: r["v"] for r in read_version(spark, table).collect()}
    assert set(rows) == {i for i in range(100) if i % 10 != 0}
    for i in range(100):
        if i % 10 != 0 and i % 7 == 1:
            assert rows[i] == i * 10


def test_mor_after_schema_evolution_reads_evolved(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    evolved = _df(spark, 120).filter("id >= 100").withColumn(
        "extra", F.col("id") + 1
    )
    write_version(spark, evolved, table, mode="append", merge_schema=True)
    r = delete_version(spark, table, "id % 2 = 0", mode="mor")
    assert r["files_rewritten"] == 0 and r["n_deleted"] == 60
    got = read_version(spark, table)
    assert "extra" in got.columns
    rows = {r["id"]: r["extra"] for r in got.collect()}
    assert set(rows) == {i for i in range(120) if i % 2 == 1}
    assert rows[101] == 102 and rows[1] is None  # pre-evolution NULL-fill


def test_mor_tagged_version_survives_vacuum_then_sweeps(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    tag_version(table, "mor-snap", version=2)
    write_version(spark, read_version(spark, table), table, mode="overwrite")
    res = vacuum(table, keep_last=1)
    # the tagged MOR snapshot keeps its manifest, data files AND sidecar
    assert res["dv_dirs_dropped"] == 0
    assert len(_ids(spark, table, tag="mor-snap")) == 90
    delete_tag(table, "mor-snap")
    res2 = vacuum(table, keep_last=1)
    assert res2["dv_dirs_dropped"] == 1
    assert not os.listdir(os.path.join(table, "_dv"))
    assert len(_ids(spark, table)) == 90  # compacted latest unaffected


def test_mor_commit_conflict_discards_staged_sidecar(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    base_before = len(os.listdir(os.path.join(table, "data")))
    with pytest.raises(CommitConflict):
        # computed against v1, but the table advances to v2 first
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import (
            versioned as V,
        )

        base = V.load_manifest(table, 1)
        write_version(spark, _df(spark, 10), table)  # v2 wins the race
        V._delete_version_mor(spark, table, F.expr("id < 5"), base)
    # the staged sidecar was discarded — nothing references it
    dv_root = os.path.join(table, "_dv")
    assert not os.path.isdir(dv_root) or not os.listdir(dv_root)
    assert len(os.listdir(os.path.join(table, "data"))) == base_before + 1


def test_pruned_read_applies_dvs(spark, table):
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    write_bloom_index(spark, table, "id")
    delete_version(spark, table, "id = 17", mode="mor")
    df, info = read_version_pruned(spark, table, keys={"id": [17, 18]})
    assert sorted(r["id"] for r in df.collect()) == [18]
    assert info["files_read"] < info["files_total"]


def test_cow_delete_after_mor_applies_dvs_in_rewrite(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    # COW delete touches every file; rewrites must materialize live
    # rows only (MOR-deleted rows stay gone), and dv entries for the
    # rewritten files go stale-but-harmless
    r = delete_version(spark, table, "g = 3", mode="cow")
    exp = sum(1 for i in range(100) if i % 10 != 0 and i % 7 == 3)
    assert r["n_deleted"] == exp
    assert _ids(spark, table) == [
        i for i in range(100) if i % 10 != 0 and i % 7 != 3
    ]
    assert versions(table)[-1]["n_rows"] == len(_ids(spark, table))


def test_dv_identity_name_collision_is_loud(spark, table):
    df = spark.range(5).select(
        F.col("id"), F.lit("x").alias("__dv_file")
    )
    write_version(spark, df, table)
    with pytest.raises(ValueError, match="__dv_file"):
        delete_version(spark, table, "id = 1", mode="mor")


def test_delete_mode_validation(spark, table):
    write_version(spark, _df(spark), table)
    with pytest.raises(ValueError, match="cow|mor"):
        delete_version(spark, table, "id = 1", mode="bogus")


def test_mor_read_plan_is_broadcast_anti_join(spark, table):
    """The DV application must execute as a BroadcastHashJoin LeftAnti
    (DV side the build side — O(deleted rows) broadcast under AQE),
    never a nested-loop; the identity projection stays inside
    whole-stage codegen on the scan side."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.plans.introspect import (
        explain_str,
    )

    df = spark.range(5000).select(F.col("id"), (F.col("id") % 7).alias("g"))
    write_version(spark, df.repartition(4), table)
    delete_version(spark, table, "id % 100 = 0", mode="mor")
    r = read_version(spark, table)
    r.collect()  # AQE resolves the join strategy at runtime
    plan = explain_str(r, "simple")
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
