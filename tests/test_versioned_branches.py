"""Branch refs on versioned tables (sinks/versioned.py create_branch /
branches / publish_branch / delete_branch): the Iceberg branch /
write-audit-publish pattern — fork metadata-only, stage commits on the
branch without perturbing main, publish fast-forward-only, vacuum
retains branch-referenced files, delete_branch reclaims exclusives."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    CommitConflict,
    branches,
    create_branch,
    delete_branch,
    publish_branch,
    read_version,
    tag_version,
    vacuum,
    versions,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo=0, hi=100):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 5).alias("g")
    )


def _data_files(table):
    return set(glob.glob(os.path.join(table, "data", "*", "*.parquet")))


def test_fork_is_metadata_only(spark, table):
    write_version(spark, _df(spark), table)
    before = _data_files(table)
    fork = create_branch(table, "dev")
    assert fork == 1
    assert _data_files(table) == before  # zero data movement
    assert branches(table) == {"dev": {"head": 1, "forked_from": 1, "n_rows": 100}}


def test_branch_commits_never_touch_main(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "dev")
    write_version(spark, _df(spark, 100, 150), table, mode="append", branch="dev")
    write_version(spark, _df(spark, 0, 7), table, branch="dev")  # overwrite
    # main: still exactly v1, still 100 rows
    assert [v["version"] for v in versions(table)] == [1]
    assert read_version(spark, table).count() == 100
    # branch-local time travel
    assert read_version(spark, table, branch="dev", version=1).count() == 100
    assert read_version(spark, table, branch="dev", version=2).count() == 150
    assert read_version(spark, table, branch="dev").count() == 7


def test_publish_fast_forward(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "wap")
    write_version(spark, _df(spark, 100, 150), table, mode="append", branch="wap")
    v = publish_branch(table, "wap")
    assert v == 2
    got = read_version(spark, table)
    want = read_version(spark, table, branch="wap")
    assert got.count() == 150
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_second_publish_cycle_rebases_on_own_publish(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "wap")
    write_version(spark, _df(spark, 100, 110), table, mode="append", branch="wap")
    assert publish_branch(table, "wap") == 2
    # branch keeps going; its base is now the v2 its publish created
    write_version(spark, _df(spark, 110, 120), table, mode="append", branch="wap")
    assert publish_branch(table, "wap") == 3
    assert read_version(spark, table).count() == 120


def test_publish_survives_lost_marker(spark, table):
    """Crash window between the publish's main commit and its
    published.json update: with the marker gone, the next publish must
    still fast-forward (main's latest IS this branch's own publish),
    while a foreign intervening commit still refuses."""
    write_version(spark, _df(spark), table)
    create_branch(table, "wap")
    write_version(spark, _df(spark, 100, 110), table, mode="append", branch="wap")
    publish_branch(table, "wap")
    marker = os.path.join(table, "_branches", "wap", "published.json")
    os.remove(marker)  # simulate the crash having lost the marker
    write_version(spark, _df(spark, 110, 115), table, mode="append", branch="wap")
    assert publish_branch(table, "wap") == 3
    assert read_version(spark, table).count() == 115
    # but a foreign commit after the (again lost) marker still refuses
    os.remove(marker)
    write_version(spark, _df(spark, 500, 501), table, mode="append")
    write_version(spark, _df(spark, 115, 116), table, mode="append", branch="wap")
    with pytest.raises(CommitConflict, match="fast-forward"):
        publish_branch(table, "wap")


def test_refork_cannot_fast_forward_over_old_publish(spark, table):
    """A deleted-and-re-forked branch with the SAME NAME is a new
    incarnation: the self-heal must not let it publish over the old
    incarnation's promoted commits (matched on fork_id, not name)."""
    write_version(spark, _df(spark), table)
    create_branch(table, "wap")
    write_version(spark, _df(spark, 100, 150), table, mode="append", branch="wap")
    publish_branch(table, "wap")  # main v2 carries published_branch='wap'
    delete_branch(table, "wap")
    create_branch(table, "wap", version=1)  # re-fork from v1
    write_version(spark, _df(spark, 200, 210), table, mode="append", branch="wap")
    with pytest.raises(CommitConflict, match="fast-forward"):
        publish_branch(table, "wap")
    assert read_version(spark, table).count() == 150  # v2 intact


def test_path_escaping_branch_names_are_rejected_everywhere(spark, table):
    """The name check lives at the _manifest_root join chokepoint, not
    just create time: '../_versions' must never resolve into the main
    chain (delete_branch would rmtree it) and absolute names must never
    escape the table dir."""
    write_version(spark, _df(spark), table)
    for bad in ("../_versions", "/tmp/elsewhere", "a/b", ".hidden", ""):
        with pytest.raises(ValueError, match="branch name|not found"):
            create_branch(table, bad)
        with pytest.raises(ValueError, match="branch name"):
            delete_branch(table, bad)
        with pytest.raises(ValueError, match="branch name"):
            write_version(spark, _df(spark), table, branch=bad)
        with pytest.raises(ValueError, match="branch name"):
            read_version(spark, table, branch=bad)
        with pytest.raises(ValueError, match="branch name"):
            publish_branch(table, bad)
    # main chain untouched by all of the above
    assert read_version(spark, table).count() == 100


def test_publish_refused_when_main_advanced(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "wap")
    write_version(spark, _df(spark, 100, 110), table, mode="append", branch="wap")
    write_version(spark, _df(spark, 500, 501), table, mode="append")  # main moves
    with pytest.raises(CommitConflict, match="fast-forward"):
        publish_branch(table, "wap")
    # main unharmed by the refusal
    assert read_version(spark, table).count() == 101


def test_loud_errors(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "dev")
    with pytest.raises(ValueError, match="already exists"):
        create_branch(table, "dev")
    with pytest.raises(ValueError, match="not found"):
        write_version(spark, _df(spark), table, branch="nope")
    with pytest.raises(ValueError, match="not found"):
        publish_branch(table, "nope")
    with pytest.raises(ValueError, match="not found"):
        delete_branch(table, "nope")
    with pytest.raises(ValueError, match="tags pin main"):
        tag_version(table, "t1")
        read_version(spark, table, tag="t1", branch="dev")
    with pytest.raises(ValueError, match="branch name"):
        create_branch(table, "bad/name")


def test_wap_round_trip_keeps_the_table_contract(spark, table):
    """The fork carries the table's contract: a branch append is held
    to main's CHECK constraint and derives main's generated column, and
    after publish main still records the constraint, the generated
    column, the stats and the partition layout."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        load_manifest,
        verify_table,
    )

    write_version(
        spark, _df(spark, 0, 30), table,
        check_constraints={"id_nonneg": "id >= 0"},
        generated_cols={"half": "id % 2"},
        stats_cols=["id"],
        partition_by=["g"],
    )
    contract = {
        k: load_manifest(table, None)[k]
        for k in ("constraints", "generated_cols", "stats_cols", "partition_cols")
    }
    create_branch(table, "audit")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_version(spark, _df(spark, -5, 0), table, mode="append", branch="audit")
    # the increment omits the generated column: the branch derives it
    write_version(spark, _df(spark, 30, 40), table, mode="append", branch="audit")
    staged = read_version(spark, table, branch="audit")
    assert staged.count() == 40
    assert staged.filter("half IS NULL OR half != id % 2").count() == 0
    publish_branch(table, "audit")
    m = load_manifest(table, None)
    assert {k: m.get(k) for k in contract} == contract
    assert set(m["stats"]) == set(m["files"]) == set(m["partitions"])
    assert verify_table(spark, table, deep=True)["ok"]
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_version(spark, _df(spark, -5, 0), table, mode="append")


def test_vacuum_retains_branch_referenced_files(spark, table):
    write_version(spark, _df(spark), table)  # v1 — the fork carries these files
    create_branch(table, "pin")
    baseline = read_version(spark, table, branch="pin").agg(F.sum("id")).first()[0]
    # main overwrites twice; v1 falls out of keep_last=1
    write_version(spark, _df(spark, 0, 10), table)
    write_version(spark, _df(spark, 0, 5), table)
    res = vacuum(table, keep_last=1)
    assert res["versions_dropped"] >= 1
    # the branch's carried v1 files survived the sweep
    assert (
        read_version(spark, table, branch="pin").agg(F.sum("id")).first()[0]
        == baseline
    )


def test_delete_branch_reclaims_only_exclusive_files(spark, table):
    write_version(spark, _df(spark), table)
    shared = _data_files(table)
    create_branch(table, "dev")
    write_version(spark, _df(spark, 100, 120), table, mode="append", branch="dev")
    staged = _data_files(table) - shared
    assert staged  # the branch append staged real files
    res = delete_branch(table, "dev")
    assert res["files_deleted"] == len(staged)
    assert _data_files(table) == shared  # shared fork files untouched
    assert branches(table) == {}
    assert read_version(spark, table).count() == 100


def test_delete_branch_keeps_files_published_to_main(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "wap")
    write_version(spark, _df(spark, 100, 150), table, mode="append", branch="wap")
    publish_branch(table, "wap")
    res = delete_branch(table, "wap")
    # main v2 references the branch-staged files — nothing reclaimable
    assert res["files_deleted"] == 0
    assert read_version(spark, table).count() == 150


def test_schema_evolution_on_branch(spark, table):
    write_version(spark, _df(spark), table)
    create_branch(table, "dev")
    evolved = _df(spark, 100, 110).withColumn("flag", F.lit(True))
    with pytest.raises(ValueError, match="merge_schema"):
        write_version(spark, evolved, table, mode="append", branch="dev")
    write_version(
        spark, evolved, table, mode="append", branch="dev", merge_schema=True
    )
    b = read_version(spark, table, branch="dev")
    assert set(b.columns) == {"id", "g", "flag"}
    assert b.filter(F.col("flag").isNull()).count() == 100
    # main's recorded schema is untouched until publish
    assert set(read_version(spark, table).columns) == {"id", "g"}
    publish_branch(table, "dev")
    assert set(read_version(spark, table).columns) == {"id", "g", "flag"}


def test_wap_drift_gate_refuses_poisoned_branch(spark, sf_dir, tmp_path):
    """Composition: branch WAP + snapshot_drift as the audit — a
    poisoned staged increment stays on its branch; main is unchanged."""
    import pyspark.sql.functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.profile import (
        snapshot_drift,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        create_branch,
        publish_branch,
        read_version,
        write_version,
    )

    t = str(tmp_path / "events_v")
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_cents"),
    )
    write_version(spark, e.filter(F.col("event_id") % 2 == 0).repartition(2), t)
    n_main = read_version(spark, t).count()

    poisoned = (
        e.filter(F.col("event_id") % 2 == 1)
        .withColumn("value_cents", F.col("value_cents") * 5)
        .withColumn("event_type", F.lit("error"))
    )
    create_branch(t, "ingest")
    write_version(spark, poisoned.repartition(2), t, mode="append", branch="ingest")
    tv = max(
        r["tv_pm"]
        for r in snapshot_drift(
            read_version(spark, t).select("value_cents", "event_type"),
            poisoned.select("value_cents", "event_type"),
            numeric_cols=["value_cents"],
            categorical_cols=["event_type"],
            n_bins=10,
        ).collect()
    )
    assert tv > 300  # the audit fires
    # gate refuses: no publish — main head unchanged, staged rows only
    # visible on the branch
    assert read_version(spark, t).count() == n_main
    assert read_version(spark, t, branch="ingest").count() > n_main
    # and an in-distribution increment WOULD pass the same gate
    clean = e.filter(F.col("event_id") % 4 == 1)
    tv_ok = max(
        r["tv_pm"]
        for r in snapshot_drift(
            read_version(spark, t).select("value_cents", "event_type"),
            clean.select("value_cents", "event_type"),
            numeric_cols=["value_cents"],
            categorical_cols=["event_type"],
            n_bins=10,
        ).collect()
    )
    assert tv_ok <= 300
    create_branch(t, "ingest2")
    write_version(spark, clean.repartition(2), t, mode="append", branch="ingest2")
    publish_branch(t, "ingest2")
    assert read_version(spark, t).count() == n_main + clean.count()
