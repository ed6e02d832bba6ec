"""UPDATE on versioned tables (COW rewrite vs MOR deletion-vector +
appended images — the Delta DV-enabled UPDATE execution) and
timestamp time travel (version_as_of).

Reference cost profile being replaced: the reference truncate-reloads
per run (/root/reference/dags/bigbookapi.py), so correcting one field
re-extracts everything; COW bounds it to O(touched files), MOR to
O(updated rows).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    delete_version,
    read_version,
    read_version_pruned,
    update_version,
    version_as_of,
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


def _rows(spark, table, **kw):
    return {
        r["id"]: (r["g"], r["v"])
        for r in read_version(spark, table, **kw).collect()
    }


def _data_files(table):
    return sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(table, "data"))
        for f in fs
        if f.endswith(".parquet")
    )


def test_cow_update_rewrites_touched_files_only(spark, table):
    write_version(spark, _df(spark).repartitionByRange(4, "id"), table)
    before = set(_data_files(table))
    r = update_version(
        spark, table, "id >= 75", {"v": F.col("v") + 1000}
    )
    assert r["n_updated"] == 25 and r["n_rows"] == 100
    assert r["files_rewritten"] == 1 and r["files_carried"] == 3
    assert before <= set(_data_files(table))  # old files untouched
    rows = _rows(spark, table)
    assert all(
        rows[i] == (i % 7, i * 2 + (1000 if i >= 75 else 0))
        for i in range(100)
    )
    # snapshot isolation: v1 unchanged
    assert _rows(spark, table, version=1)[99] == (1, 198)


def test_null_predicate_rows_stay(spark, table):
    df = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("g"),
        F.col("id").alias("v"),
    )
    write_version(spark, df, table)
    update_version(spark, table, "g > 100000 OR g IS NULL AND FALSE",
                   {"v": F.lit(-1)})
    # predicate NULL for odd rows (g IS NULL) -> SQL UPDATE leaves them
    assert all(r["v"] >= 0 for r in read_version(spark, table).collect())


def test_mor_update_zero_rewrite_equals_cow(spark, tmp_path):
    a, b = str(tmp_path / "mor"), str(tmp_path / "cow")
    for t in (a, b):
        write_version(spark, _df(spark).repartition(3), t)
    rm = update_version(
        spark, a, "g = 3", {"v": F.col("v") * 10}, mode="mor"
    )
    rc = update_version(spark, b, "g = 3", {"v": F.col("v") * 10})
    assert rm["files_rewritten"] == 0 and rm["files_carried"] == 3
    assert rm["files_added"] >= 1 and rm["n_updated"] == rc["n_updated"]
    assert rm["n_rows"] == rc["n_rows"] == 100
    assert _rows(spark, a) == _rows(spark, b)


def test_mor_update_then_compaction_folds_dvs(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    update_version(spark, table, "id < 10", {"v": F.lit(0)}, mode="mor")
    want = _rows(spark, table)
    write_version(spark, read_version(spark, table), table, mode="overwrite")
    assert _rows(spark, table) == want
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
    )

    assert load_manifest(table, 2).get("dv_files")
    assert not load_manifest(table, 3).get("dv_files")


def test_update_honors_prior_mor_delete(spark, table):
    write_version(spark, _df(spark).repartition(2), table)
    delete_version(spark, table, "id % 10 = 0", mode="mor")
    r = update_version(spark, table, "id < 30", {"v": F.lit(1)}, mode="mor")
    # ids 0,10,20 are dead: 27 live matches, none resurrected
    assert r["n_updated"] == 27
    rows = _rows(spark, table)
    assert set(rows) == {i for i in range(100) if i % 10 != 0}
    assert all(v == 1 for i, (_, v) in rows.items() if i < 30)


def test_update_unknown_column_and_empty_assignments_loud(spark, table):
    write_version(spark, _df(spark), table)
    with pytest.raises(ValueError, match="unknown columns.*nope"):
        update_version(spark, table, "id = 1", {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="empty assignments"):
        update_version(spark, table, "id = 1", {})


def test_update_preserves_column_types(spark, table):
    write_version(spark, _df(spark), table)
    update_version(spark, table, "id = 1", {"g": F.lit(3.0)})  # double expr
    sch = dict(read_version(spark, table).dtypes)
    assert sch["g"] == "bigint"  # cast back to the recorded type


def test_update_maintains_index_for_probes(spark, table):
    write_version(
        spark, _df(spark, 5000).repartitionByRange(4, "id"), table,
        index_cols=["v"],
    )
    # move one row's v to a value that never existed: the rewritten
    # file's fresh index rows must make it probe-able
    update_version(
        spark, table, "id = 4321", {"v": F.lit(999_999)}, index_cols=["v"]
    )
    df, info = read_version_pruned(spark, table, keys={"v": [999_999]})
    assert [r["id"] for r in df.collect()] == [4321]
    assert info["files_read"] < info["files_total"]


def test_version_as_of_timestamps(spark, table):
    import time

    write_version(spark, _df(spark, 5), table)
    t_between = time.time()
    time.sleep(0.02)
    write_version(spark, _df(spark, 9), table, mode="overwrite")
    t_after = time.time()
    assert version_as_of(table, t_between) == 1
    assert version_as_of(table, t_after) == 2
    assert read_version(
        spark, table, version=version_as_of(table, t_between)
    ).count() == 5
    with pytest.raises(ValueError, match="predates the first commit"):
        version_as_of(table, 1.0)
