"""Every lake commit keeps the table properties it does not change.

One small table carries every property a manifest records: column
mapping, a CHECK constraint, a generated column, a partition layout,
stats, a deletion vector and a Bloom index. Each commit operation runs
on its own copy of that table, and its new manifest is compared with
the manifest it descends from: each property the operation does not
change must come through unchanged, stats and partition entries of
surviving files included (``sinks.versioned._child_body``). The index
is declared once, and no operation names it: every main-line commit
must leave a usable index at the head.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned as V

PROPS = (
    "schema",
    "column_mapping",
    "constraints",
    "generated_cols",
    "stats_cols",
    "partition_cols",
)


def _rows(spark, lo, hi, half=False):
    df = spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )
    return df.withColumn("half", F.col("id") % 2) if half else df


@pytest.fixture(scope="module")
def template(spark, tmp_path_factory):
    """A table with every recorded property, built once; each case
    works on a copy (manifests hold absolute paths, so the copies share
    the template's data files)."""
    table = str(tmp_path_factory.mktemp("contract") / "tbl")
    V.write_version(
        spark, _rows(spark, 0, 60).repartition(2), table,
        partition_by=["g"], stats_cols=["id"],
        check_constraints={"id_nonneg": "id >= 0"},
        generated_cols={"half": "id % 2"},
    )
    V.write_bloom_index(spark, table, "id")
    V.enable_column_mapping(table)
    V.delete_version(spark, table, "id = 5", mode="mor")
    return table


def _append(spark, t, _tmp):
    V.write_version(spark, _rows(spark, 60, 70), t, mode="append")
    return t, ()


def _replace(spark, t, _tmp):
    V.overwrite_partitions(spark, _rows(spark, 300, 306).filter("g = 0"), t)
    return t, ()


def _merge(spark, t, _tmp):
    inc = _rows(spark, 55, 65, half=True)
    V.merge_version(spark, inc, t, keys=["id"])
    # a merge records the merged frame's schema (nullable columns)
    return t, ("schema",)


def _delete(mode):
    def op(spark, t, _tmp):
        V.delete_version(spark, t, "id = 7", mode=mode)
        return t, ()

    return op


def _update(mode):
    def op(spark, t, _tmp):
        V.update_version(spark, t, "id = 8", {"v": "'x'"}, mode=mode)
        return t, ()

    return op


def _optimize(spark, t, _tmp):
    V.optimize_table(
        spark, t, cluster_by=["id"], incremental=True,
        width_frac_threshold=0.0,
    )
    return t, ()


def _add_constraint(spark, t, _tmp):
    V.add_constraint(spark, t, "id_small", "id < 1000")
    return t, ("constraints",)


def _drop_constraint(spark, t, _tmp):
    V.drop_constraint(t, "id_nonneg")
    return t, ("constraints",)


def _rename(spark, t, _tmp):
    V.rename_column(t, "v", "label")
    return t, ("schema", "column_mapping")


def _drop(spark, t, _tmp):
    V.drop_column(t, "v")
    return t, ("schema", "column_mapping")


def _restore(spark, t, _tmp):
    # the restored head must match the target's properties, so append
    # first and restore the template head
    target = V.load_manifest(t, None)["version"]
    V.write_version(spark, _rows(spark, 60, 70), t, mode="append")
    V.restore_version(spark, t, target)
    return t, ()


def _clone(spark, t, tmp):
    dst = str(tmp / "clone")
    V.clone_table(t, dst)
    return dst, ()


def _fork(spark, t, _tmp):
    V.create_branch(t, "dev")
    return (t, "dev"), ()


def _publish(spark, t, _tmp):
    V.create_branch(t, "dev")
    V.write_version(spark, _rows(spark, 60, 70), t, mode="append", branch="dev")
    V.publish_branch(t, "dev")
    return t, ()


OPS = {
    "append": _append,
    "overwrite_partitions": _replace,
    "merge": _merge,
    "delete_cow": _delete("cow"),
    "delete_mor": _delete("mor"),
    "update_cow": _update("cow"),
    "update_mor": _update("mor"),
    "optimize_incremental": _optimize,
    "add_constraint": _add_constraint,
    "drop_constraint": _drop_constraint,
    "rename_column": _rename,
    "drop_column": _drop,
    "restore": _restore,
    "clone": _clone,
    "fork": _fork,
    "publish": _publish,
}
# Bloom indexes are main-lineage and do not carry into a clone or a
# branch; a publish commits the branch's file set without one (the
# next main commit rebuilds it)
NO_INDEX = {"clone", "fork", "publish"}


@pytest.mark.parametrize("op", list(OPS))
def test_commit_keeps_base_properties(spark, template, tmp_path, op):
    t = str(tmp_path / "tbl")
    shutil.copytree(template, t)
    base = V.load_manifest(t, None)
    assert base["dv_files"] and V.index_params(t, "id") is not None
    where, changed = OPS[op](spark, t, tmp_path)
    child = (
        V.load_manifest(where[0], None, where[1])
        if isinstance(where, tuple)
        else V.load_manifest(where, None)
    )
    for key in PROPS:
        if key not in changed:
            assert child.get(key) == base.get(key), key
    assert set(base["dv_files"]) <= set(child["dv_files"])
    for key in ("stats", "partitions"):
        for f in set(base["files"]) & set(child["files"]):
            assert child[key][f] == base[key][f], (key, f)
    if op not in NO_INDEX:
        assert V.index_params(where, "id") is not None
