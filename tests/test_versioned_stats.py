"""Recorded per-file stats in the manifest (write_version stats_cols —
the Delta add-file-stats pattern): range pruning decides driver-side
with zero footer I/O, the column list inherits across appends, every
DML path carries entries for surviving files and records the rewritten
increment, and files without entries degrade to the footer pass.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    delete_version,
    load_manifest,
    merge_version,
    optimize_table,
    read_version,
    read_version_pruned,
    restore_version,
    update_version,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo=0, hi=1000):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
    )


def _probe(spark, table, lo, hi):
    df, info = read_version_pruned(spark, table, ranges={"id": (lo, hi)})
    return sorted(r["id"] for r in df.collect()), info


def test_recorded_stats_prune_with_zero_footer_reads(spark, table):
    write_version(
        spark, _df(spark).repartitionByRange(4, "id"), table,
        stats_cols=["id"],
    )
    ids, info = _probe(spark, table, 10, 20)
    assert ids == list(range(10, 21))
    assert info["files_read"] < info["files_total"] == 4
    assert info["footer_files"] == 0  # decided from the manifest alone


def test_stats_cols_inherit_across_appends(spark, table):
    write_version(
        spark, _df(spark, 0, 500).repartitionByRange(2, "id"), table,
        stats_cols=["id"],
    )
    write_version(
        spark, _df(spark, 500, 1000).repartitionByRange(2, "id"), table,
        mode="append",  # no stats_cols passed: inherited
    )
    m = load_manifest(table, 2)
    assert m["stats_cols"] == ["id"]
    assert len(m["stats"]) == len(m["files"])  # every file has an entry
    ids, info = _probe(spark, table, 700, 710)
    assert ids == list(range(700, 711))
    assert info["footer_files"] == 0


def test_dml_paths_carry_and_record(spark, table):
    write_version(
        spark, _df(spark).repartitionByRange(4, "id"), table,
        stats_cols=["id"],
    )
    delete_version(spark, table, "id >= 900")  # COW: rewrites one file
    update_version(spark, table, "id < 50", {"v": F.lit(0)})  # COW
    delete_version(spark, table, "id % 97 = 0", mode="mor")  # files same
    update_version(
        spark, table, "id = 123", {"v": F.lit(1)}, mode="mor"
    )  # appends an image file
    inc = spark.range(2000, 2100).select(
        F.col("id"), (F.col("id") % 7).alias("g"), (F.col("id") * 2).alias("v")
    )
    merge_version(spark, inc, table, keys=["id"])
    m = load_manifest(table, None)
    assert m["stats_cols"] == ["id"]
    assert set(m["stats"]) == set(m["files"])  # full coverage after 5 DMLs
    ids, info = _probe(spark, table, 2050, 2060)
    assert ids == list(range(2050, 2061))
    assert info["footer_files"] == 0


def test_restore_copies_stats(spark, table):
    write_version(
        spark, _df(spark).repartitionByRange(4, "id"), table,
        stats_cols=["id"],
    )
    delete_version(spark, table, "id >= 500")
    restore_version(spark, table, 1)
    m = load_manifest(table, 3)
    assert set(m["stats"]) == set(m["files"])
    _, info = _probe(spark, table, 900, 910)
    assert info["footer_files"] == 0


def test_optimize_overwrite_inherits_stats(spark, table):
    write_version(
        spark, _df(spark).repartition(8), table, stats_cols=["id"]
    )
    optimize_table(spark, table, cluster_by=["id"], target_file_bytes=4096)
    m = load_manifest(table, None)
    assert m["stats_cols"] == ["id"]
    assert set(m["stats"]) == set(m["files"])
    _, info = _probe(spark, table, 10, 20)
    assert info["files_read"] < info["files_total"]
    assert info["footer_files"] == 0


def test_uncovered_files_degrade_to_footers_only_for_themselves(spark, table):
    # v1 has NO stats; the append introduces them — only v1's files
    # should need footers on a later probe
    write_version(spark, _df(spark, 0, 500).repartitionByRange(2, "id"), table)
    write_version(
        spark,
        _df(spark, 500, 1000).repartitionByRange(2, "id"),
        table,
        mode="append",
        stats_cols=["id"],
    )
    ids, info = _probe(spark, table, 600, 610)
    assert ids == list(range(600, 611))
    assert info["footer_files"] == 2  # exactly v1's uncovered files
    assert info["files_read"] < info["files_total"]


def test_pruned_equals_unpruned(spark, table):
    write_version(
        spark, _df(spark).repartitionByRange(4, "id"), table,
        stats_cols=["id"],
    )
    got, _ = _probe(spark, table, 240, 260)
    want = sorted(
        r["id"]
        for r in read_version(spark, table)
        .filter("id >= 240 AND id <= 260")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# round 14: nested-leaf stats (dotted stats_cols)
# ---------------------------------------------------------------------------


def _nested_df(spark, lo=0, hi=1000):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.struct(
            (F.col("id") * 0.1).alias("average"),
            (F.col("id") % 5).cast("int").alias("count"),
        ).alias("rating"),
    )


def test_nested_leaf_stats_prune_zero_footers(spark, table):
    """stats_cols accepts a dotted struct-leaf path (the reference's
    ``rating.average`` shape): per-file envelopes record under the
    dotted physical path and a range probe prunes driver-side with
    zero footer I/O."""
    write_version(
        spark,
        _nested_df(spark).repartitionByRange(4, "rating.average"),
        table,
        stats_cols=["rating.average"],
    )
    m = load_manifest(table, None)
    assert all("rating.average" in e for e in m["stats"].values())
    df, info = read_version_pruned(
        spark, table, ranges={"rating.average": (0.0, 10.0)}
    )
    assert info["files_read"] < info["files_total"]
    assert info["footer_files"] == 0
    assert df.count() == 101  # 0.0 .. 10.0 inclusive at step 0.1


def test_nested_leaf_stats_survive_nested_rename(spark, table):
    """Renaming the covered LEAF keeps coverage: the stats_cols entry
    follows to the new dotted path, envelopes stay keyed by the frozen
    physical path, and pruning works under the new name."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        rename_column,
        verify_table,
    )

    write_version(
        spark,
        _nested_df(spark).repartitionByRange(4, "rating.average"),
        table,
        stats_cols=["rating.average"],
    )
    rename_column(table, "rating.average", "avg")
    m = load_manifest(table, None)
    assert m["stats_cols"] == ["rating.avg"]
    df, info = read_version_pruned(
        spark, table, ranges={"rating.avg": (50.0, 60.0)}
    )
    assert info["files_read"] < info["files_total"]
    assert info["footer_files"] == 0
    assert df.count() == 101
    # renaming the ENCLOSING column rewrites the dotted prefix too
    rename_column(table, "rating", "score")
    m2 = load_manifest(table, None)
    assert m2["stats_cols"] == ["score.avg"]
    df2, info2 = read_version_pruned(
        spark, table, ranges={"score.avg": (50.0, 60.0)}
    )
    assert info2["files_read"] < info2["files_total"]
    assert info2["footer_files"] == 0
    rep = verify_table(spark, table, deep=True)
    assert rep["ok"] and rep["checks"]["stats_envelopes"]["ok"]


def test_nested_leaf_stats_append_and_incremental_optimize(spark, table):
    """Coverage inherits across appends for the dotted leaf, and
    incremental OPTIMIZE selects by its envelopes: a hash-scattered
    append gets rewritten, the clustered base carries by identity."""
    write_version(
        spark,
        _nested_df(spark).repartitionByRange(4, "rating.average"),
        table,
        stats_cols=["rating.average"],
    )
    write_version(
        spark,
        _nested_df(spark, 1000, 2000).repartition(3),
        table,
        mode="append",
    )
    m = load_manifest(table, None)
    assert all("rating.average" in e for e in m["stats"].values())
    opt = optimize_table(
        spark, table, cluster_by=["rating.average"], incremental=True
    )
    assert opt["files_rewritten"] > 0
    assert opt["files_carried"] > 0
    df, info = read_version_pruned(
        spark, table, ranges={"rating.average": (150.0, 160.0)}
    )
    assert info["files_read"] < info["files_total"]
    assert df.count() == 101


def test_nested_leaf_stats_drop_scrubs(spark, table):
    """Dropping the covered leaf (or its enclosing column) removes the
    stats contract and scrubs the physical-keyed envelopes — fsck's
    stats audit stays green."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        drop_column,
        verify_table,
    )

    write_version(
        spark,
        _nested_df(spark).coalesce(2),
        table,
        stats_cols=["rating.average", "id"],
    )
    drop_column(table, "rating.average")
    m = load_manifest(table, None)
    assert m["stats_cols"] == ["id"]
    assert all("rating.average" not in e for e in m["stats"].values())
    rep = verify_table(spark, table, deep=True)
    assert rep["ok"] and rep["checks"]["stats_envelopes"]["ok"]


# ---------------------------------------------------------------------------
# round 14: nested-leaf Bloom indexes (dotted key columns)
# ---------------------------------------------------------------------------


def test_nested_leaf_bloom_index_prunes_and_survives_rename(spark, table):
    """A Bloom index declares on a dotted struct-leaf path: the at-rest Bloom
    chain builds over the leaf's frozen physical path, equality probes
    under the dotted name prune files, and both the leaf rename and the
    chained append keep working."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        rename_column,
        write_bloom_index,
    )

    df = spark.range(2000).select(
        F.col("id"),
        F.struct(
            ((F.col("id") * 7) % 1999).alias("sku"),
            F.lit("x").alias("tag"),
        ).alias("meta"),
    )
    write_version(spark, df.repartition(6), table)
    write_bloom_index(spark, table, "meta.sku")
    out, info = read_version_pruned(spark, table, keys={"meta.sku": [7]})
    assert info["files_read"] < info["files_total"]
    assert out.count() == 1
    rename_column(table, "meta.sku", "item")
    out2, info2 = read_version_pruned(spark, table, keys={"meta.item": [7]})
    assert info2["files_read"] < info2["files_total"]
    assert out2.count() == 1
    inc = spark.range(2000, 2400).select(
        F.col("id"),
        F.struct(
            ((F.col("id") * 7) % 1999).alias("item"),
            F.lit("y").alias("tag"),
        ).alias("meta"),
    )
    write_version(spark, inc.repartition(2), table, mode="append")
    out3, info3 = read_version_pruned(spark, table, keys={"meta.item": [3]})
    assert info3["files_read"] < info3["files_total"]
    assert out3.count() == 2  # 3*7^-1 mod 1999 appears once per range


def test_repeated_leaf_paths_refuse_loud_early(spark, table):
    """Dotted stats/index paths crossing an array (or ending on a
    non-atomic node) refuse at RECORD/BUILD time — before any staging
    — instead of recording metadata no probe can use and failing
    loud-late at read time (the exact filter would refuse
    ``array >= scalar`` only once a user probed)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        write_bloom_index,
    )

    df = spark.range(50).select(
        F.col("id"),
        F.array(F.struct(F.col("id").alias("aid"))).alias("authors"),
        F.struct(
            (F.col("id") % 5).cast("int").alias("sku"),
            F.array(F.lit("x")).alias("tags"),
        ).alias("meta"),
    )
    with pytest.raises(ValueError, match="crosses a repeated level"):
        write_version(spark, df, table, stats_cols=["authors.aid"])
    with pytest.raises(ValueError, match="non-atomic node"):
        write_version(spark, df, table, stats_cols=["meta.tags"])
    # nothing staged by the refusals
    import os

    assert not os.path.exists(table)
    write_version(spark, df, table, stats_cols=["meta.sku"])
    # declaring an index refuses too, before it builds anything
    with pytest.raises(ValueError, match="crosses a repeated level"):
        write_bloom_index(spark, table, "authors.aid")
    assert not os.path.exists(os.path.join(table, "_index"))
    # the valid dotted leaf records and probes fine alongside
    _, info = read_version_pruned(
        spark, table, ranges={"meta.sku": (0.0, 1.0)}
    )
    assert info["footer_files"] == 0
