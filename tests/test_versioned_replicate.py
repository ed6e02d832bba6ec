"""CDC replication: merge_version delete directives (the Delta
`WHEN MATCHED AND src._deleted THEN DELETE` arm) and replicate_changes
(change data feed → keyed merge, with a crash-safe applied-version
cursor) — the manifest-driven producer feeding the incremental
consumer without either side scanning its full table.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    delete_version,
    merge_version,
    read_version,
    replicate_changes,
    update_version,
    write_version,
)


@pytest.fixture()
def src(tmp_path):
    return str(tmp_path / "src")


@pytest.fixture()
def dst(tmp_path):
    return str(tmp_path / "dst")


def _df(spark, n=100):
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
    )


def _rows(spark, table, **kw):
    return {
        r["id"]: (r["g"], r["v"])
        for r in read_version(spark, table, **kw).collect()
    }


# ---- merge_version delete directives ---------------------------------------


def test_merge_delete_directive_removes_keys(spark, src):
    write_version(spark, _df(spark).repartition(3), src)
    inc = spark.createDataFrame(
        [(5, 0, 999, False), (7, None, None, True)],
        "id bigint, g bigint, v bigint, deleted boolean",
    )
    r = merge_version(spark, inc, src, keys=["id"], delete_col="deleted")
    rows = _rows(spark, src)
    assert rows[5] == (0, 999)  # upserted
    assert 7 not in rows  # deleted
    assert len(rows) == 99 and r["n_rows"] == 99


def test_directive_for_absent_key_is_noop_and_idempotent(spark, src):
    write_version(spark, _df(spark, 10), src)
    inc = spark.createDataFrame(
        [(3, None, None, True), (555, None, None, True)],
        "id bigint, g bigint, v bigint, deleted boolean",
    )
    merge_version(spark, inc, src, keys=["id"], delete_col="deleted")
    assert set(_rows(spark, src)) == set(range(10)) - {3}
    # re-apply: deleting the now-absent key changes nothing
    merge_version(spark, inc, src, keys=["id"], delete_col="deleted")
    assert set(_rows(spark, src)) == set(range(10)) - {3}


def test_data_row_beats_same_batch_directive(spark, src):
    write_version(spark, _df(spark, 10), src)
    inc = spark.createDataFrame(
        [(4, 1, 111, True), (4, 1, 222, False)],
        "id bigint, g bigint, v bigint, deleted boolean",
    )
    merge_version(spark, inc, src, keys=["id"], delete_col="deleted")
    assert _rows(spark, src)[4] == (1, 222)  # the update wins


def test_null_flag_reads_false_and_bootstrap_skips_directives(spark, src):
    inc = spark.createDataFrame(
        [(1, 0, 10, None), (2, 0, 20, True)],
        "id bigint, g bigint, v bigint, deleted boolean",
    )
    merge_version(spark, inc, src, keys=["id"], delete_col="deleted")
    assert set(_rows(spark, src)) == {1}


def test_delete_col_validation(spark, src):
    write_version(spark, _df(spark, 5), src)
    inc = spark.createDataFrame([(1, 0, 0)], "id bigint, g bigint, v bigint")
    with pytest.raises(ValueError, match="delete_col"):
        merge_version(spark, inc, src, keys=["id"], delete_col="nope")


# ---- replicate_changes ------------------------------------------------------


def test_replicate_bootstrap_then_increments(spark, src, dst):
    write_version(spark, _df(spark).repartitionByRange(4, "id"), src)
    r1 = replicate_changes(spark, src, dst, keys=["id"])
    assert r1["applied_from"] == 0 and r1["applied_to"] == 1
    assert r1["n_changes"] == 100
    assert _rows(spark, dst) == _rows(spark, src)
    # source evolves: update + delete + append
    update_version(spark, src, "id < 5", {"v": F.lit(-1)})
    delete_version(spark, src, "id >= 90")
    write_version(
        spark,
        spark.range(200, 205).select(
            F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
        ),
        src,
        mode="append",
    )
    r2 = replicate_changes(spark, src, dst, keys=["id"])
    assert r2["applied_from"] == 1 and r2["applied_to"] == 4
    assert _rows(spark, dst) == _rows(spark, src)
    # an update's delete+insert pair netted to the upsert
    assert _rows(spark, dst)[0] == (0, -1)


def test_replicate_noop_when_cursor_current(spark, src, dst):
    write_version(spark, _df(spark, 10), src)
    replicate_changes(spark, src, dst, keys=["id"])
    r = replicate_changes(spark, src, dst, keys=["id"])
    assert r["dst_version"] is None and r["n_changes"] == 0


def test_replicate_crash_replay_is_idempotent(spark, src, dst):
    write_version(spark, _df(spark, 20), src)
    replicate_changes(spark, src, dst, keys=["id"])
    delete_version(spark, src, "id = 3")
    replicate_changes(spark, src, dst, keys=["id"])
    # simulate a crash AFTER the merge but BEFORE the cursor write:
    # rewind the cursor and re-apply the same feed
    cur_path = os.path.join(dst, "_cdc_cursor.json")
    cur = json.load(open(cur_path))
    cur["applied"] = 1
    json.dump(cur, open(cur_path, "w"))
    r = replicate_changes(spark, src, dst, keys=["id"])
    assert r["applied_to"] == 2
    assert _rows(spark, dst) == _rows(spark, src)


def test_replicate_mor_deletes_flow_through(spark, src, dst):
    write_version(spark, _df(spark, 50).repartition(2), src)
    replicate_changes(spark, src, dst, keys=["id"])
    delete_version(spark, src, "id % 10 = 0", mode="mor")
    r = replicate_changes(spark, src, dst, keys=["id"])
    assert r["n_changes"] == 5  # the DV-diff yields exactly the deletes
    assert _rows(spark, dst) == _rows(spark, src)


def test_clustered_bootstrap_scopes_later_applies(spark, src, dst):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
    )

    write_version(spark, _df(spark, 1000).repartitionByRange(4, "id"), src)
    replicate_changes(
        spark, src, dst, keys=["id"], bootstrap_cluster_by=["id"]
    )
    delete_version(spark, src, "id < 10")  # range-scoped change
    r = replicate_changes(spark, src, dst, keys=["id"])
    m, prev = load_manifest(dst, r["dst_version"]), load_manifest(dst, 1)
    carried = set(m["files"]) & set(prev["files"])
    assert len(carried) > 0  # untouched range files rode along
    assert _rows(spark, dst) == _rows(spark, src)


def test_replica_refuses_foreign_source(spark, src, dst, tmp_path):
    write_version(spark, _df(spark, 5), src)
    replicate_changes(spark, src, dst, keys=["id"])
    other = str(tmp_path / "other")
    write_version(spark, _df(spark, 5), other)
    with pytest.raises(ValueError, match="one replica follows one source"):
        replicate_changes(spark, other, dst, keys=["id"])
