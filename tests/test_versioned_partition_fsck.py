"""Hive-style partition columns, shallow clone, and FSCK on versioned
tables.

Partition columns are the one file-skipping tier the table lacked:
recorded stats prune RANGES on clustered numeric columns and Bloom
indexes prune EQUALITY on high-cardinality columns, but a low-
cardinality STRING dimension (event_type, lang, source) wants the
Delta/Iceberg partition-column pattern — an exact per-file value map in
the manifest, zero I/O and zero false positives at probe time.
clone_table is Delta's SHALLOW CLONE (fork a table by reference);
verify_table is FSCK (trust-but-verify for every piece of metadata the
planner prunes from).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    _manifest_path,
    clone_table,
    delete_version,
    load_manifest,
    optimize_table,
    overwrite_partitions,
    read_version,
    read_version_pruned,
    vacuum,
    verify_table,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "event_type", "user_id", "value"
    )


# ---------------------------------------------------------------------------
# partition columns
# ---------------------------------------------------------------------------


def test_partitioned_write_records_exact_map(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    v = write_version(
        spark,
        e.repartition("event_type"),
        table,
        partition_by=["event_type"],
    )
    m = load_manifest(table, v)
    assert m["partition_cols"] == ["event_type"]
    # every file mapped, and the map is exact (one value per file)
    assert set(m["partitions"]) == {os.path.realpath(f) for f in m["files"]}
    vals = {v["event_type"] for v in m["partitions"].values()}
    assert vals == {r[0] for r in e.select("event_type").distinct().collect()}


def test_partition_prune_zero_io_and_exact(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    df, info = read_version_pruned(spark, table, keys={"event_type": ["click"]})
    assert info["partition_skipped"] > 0
    assert info["footer_files"] == 0  # manifest-only, no footer pass
    assert info["files_read"] + info["partition_skipped"] == info["files_total"]
    want = e.filter(F.col("event_type") == "click")
    assert df.count() == want.count()
    assert df.exceptAll(want).isEmpty() and want.exceptAll(df).isEmpty()


def test_append_inherits_and_refuses_relayout(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    # omitted partition_by on append inherits the recorded layout
    write_version(
        spark, e.limit(40).repartition("event_type"), table, mode="append"
    )
    m = load_manifest(table, 2)
    assert m["partition_cols"] == ["event_type"]
    assert set(m["partitions"]) == {os.path.realpath(f) for f in m["files"]}
    with pytest.raises(ValueError, match="layout property"):
        write_version(
            spark, e.limit(5), table, mode="append", partition_by=["user_id"]
        )


def test_partition_validation(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    with pytest.raises(ValueError, match="not in schema"):
        write_version(spark, e, table, partition_by=["nope"])
    with pytest.raises(ValueError, match="dir-encode"):
        write_version(spark, e, table, partition_by=["value"])  # double


def test_partition_max_values_refused(spark, table, monkeypatch):
    import bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned as V

    monkeypatch.setattr(V, "_PART_MAX_VALUES", 8)
    df = spark.range(32).select(
        F.col("id").alias("k"), (F.col("id") % 16).alias("g")
    )
    with pytest.raises(ValueError, match="distinct value tuples"):
        write_version(spark, df, table, partition_by=["g"])
    # the refused commit staged nothing permanent: table still absent
    assert not os.path.isdir(os.path.join(table, "_versions"))


def test_cow_rewrite_degrades_conservatively(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    # PARTIAL COW delete inside one partition: the touched file
    # rewrites with its surviving rows and loses its map entry; reads
    # stay exact, pruning stays conservative
    delete_version(
        spark,
        table,
        (F.col("event_type") == "view") & (F.col("event_id") % 2 == 0),
    )
    m = load_manifest(table, 2)
    assert m["partition_cols"] == ["event_type"]
    assert len(m["partitions"]) < len(m["files"])  # rewritten files unmapped
    df, info = read_version_pruned(spark, table, keys={"event_type": ["click"]})
    assert df.count() == e.filter(F.col("event_type") == "click").count()
    assert info["partition_skipped"] > 0  # mapped non-click files still skip
    # a FULL delete of a partition's rows stages NO survivor file at
    # all (zero-row staging is dropped), so every remaining file keeps
    # its map entry and pruning stays exact — no unmapped degradation
    delete_version(spark, table, F.col("event_type") == "view")
    m3 = load_manifest(table, 3)
    assert set(m3["partitions"]) == set(m3["files"])  # fully mapped again
    assert read_version(spark, table).filter(
        F.col("event_type") == "view"
    ).count() == 0


def test_mor_delete_applies_on_pruned_partition_read(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    delete_version(
        spark,
        table,
        (F.col("event_type") == "click") & (F.col("event_id") % 2 == 0),
        mode="mor",
    )
    df, info = read_version_pruned(spark, table, keys={"event_type": ["click"]})
    want = e.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 2 == 1)
    )
    assert df.count() == want.count()
    assert info["partition_skipped"] > 0


def test_null_partition_values(spark, table):
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, None).otherwise(
            F.concat(F.lit("g"), (F.col("id") % 2).cast("string"))
        ).alias("g"),
    )
    write_version(spark, df.repartition("g"), table, partition_by=["g"])
    m = load_manifest(table, 1)
    assert None in {v["g"] for v in m["partitions"].values()}
    got, info = read_version_pruned(spark, table, keys={"g": ["g1"]})
    assert got.count() == 7 and info["partition_skipped"] > 0
    # the null rows read back as nulls on the full scan
    assert read_version(spark, table).filter(F.col("g").isNull()).count() == 7


def test_departition_via_overwrite_none(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    write_version(spark, e, table, mode="overwrite", partition_by=None)
    m = load_manifest(table, 2)
    assert "partition_cols" not in m
    # and inheritance stops: a further append stays unpartitioned
    write_version(spark, e.limit(5), table, mode="append")
    assert "partition_cols" not in load_manifest(table, 3)


def test_optimize_rerecords_partition_map(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    delete_version(spark, table, F.col("event_type") == "view")  # unmaps files
    optimize_table(spark, table, cluster_by=["event_type"])
    m = load_manifest(table, None)
    assert set(m["partitions"]) == {os.path.realpath(f) for f in m["files"]}
    df, info = read_version_pruned(spark, table, keys={"event_type": ["click"]})
    assert info["partition_skipped"] > 0 and info["footer_files"] == 0
    assert df.count() == e.filter(F.col("event_type") == "click").count()


# ---------------------------------------------------------------------------
# shallow clone
# ---------------------------------------------------------------------------


def test_clone_zero_copy_and_equal(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(
        spark,
        e.repartition("event_type"),
        src,
        partition_by=["event_type"],
        stats_cols=["event_id"],
    )
    r = clone_table(src, dst)
    assert r["data_files_written"] == 0
    ms, md = load_manifest(src, 1), load_manifest(dst, 1)
    assert md["files"] == ms["files"]  # byte-sharing, not copying
    assert md.get("stats") == ms.get("stats")  # pruning works day one
    assert md.get("partitions") == ms.get("partitions")
    got, info = read_version_pruned(spark, dst, keys={"event_type": ["click"]})
    assert info["partition_skipped"] > 0 and info["footer_files"] == 0
    assert read_version(spark, dst).count() == read_version(spark, src).count()


def test_clone_evolves_independently(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(spark, e, src)
    clone_table(src, dst)
    n0 = read_version(spark, src).count()
    write_version(spark, e.limit(10), dst, mode="append")
    delete_version(spark, dst, F.col("event_id") % 2 == 0)
    assert read_version(spark, src).count() == n0  # source untouched
    write_version(spark, e.limit(3), src, mode="append")
    n_dst = read_version(spark, dst).count()
    assert read_version(spark, src).count() == n0 + 3
    assert read_version(spark, dst).count() == n_dst  # clone untouched


def test_clone_sees_mor_live_rows(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(spark, e, src)
    delete_version(spark, src, F.col("event_id") % 5 == 0, mode="mor")
    clone_table(src, dst)
    assert (
        read_version(spark, dst).count()
        == e.filter(F.col("event_id") % 5 != 0).count()
    )


def test_clone_vacuum_never_deletes_borrowed_bytes(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(spark, e, src)
    clone_table(src, dst)
    # clone advances twice, then drops its v1 (the borrowing manifest)
    write_version(spark, e.limit(5), dst, mode="overwrite")
    write_version(spark, e.limit(5), dst, mode="append")
    res = vacuum(dst, keep_last=1)
    assert res["versions_dropped"] >= 1
    assert read_version(spark, src).count() == e.count()  # bytes intact


def test_clone_refuses_existing_table(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(spark, e, src)
    write_version(spark, e.limit(1), dst)
    with pytest.raises(ValueError, match="already a versioned table"):
        clone_table(src, dst)


def test_clone_materializes_via_optimize(spark, sf_dir, tmp_path):
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(spark, e, src)
    clone_table(src, dst)
    optimize_table(spark, dst)
    m = load_manifest(dst, None)
    root = os.path.realpath(dst) + os.sep
    assert all(os.path.realpath(f).startswith(root) for f in m["files"])
    assert read_version(spark, dst).count() == e.count()


# ---------------------------------------------------------------------------
# fsck
# ---------------------------------------------------------------------------


def _green_table(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark,
        e.repartition("event_type"),
        table,
        partition_by=["event_type"],
        stats_cols=["event_id"],
        txn_app="app",
        txn_version=1,
    )
    delete_version(spark, table, F.col("event_id") % 7 == 0, mode="mor")
    return e


def test_fsck_green(spark, sf_dir, table):
    _green_table(spark, sf_dir, table)
    rep = verify_table(spark, table, deep=True)
    assert rep["ok"], rep["errors"]
    for name in (
        "files_exist",
        "dv_files_exist",
        "schema_parses",
        "stats_scoped",
        "partitions_scoped",
        "txn_monotonic",
        "row_count",
        "stats_envelopes",
        "partition_purity",
    ):
        assert rep["checks"][name]["ok"], name


def test_fsck_detects_missing_file(spark, sf_dir, table):
    _green_table(spark, sf_dir, table)
    os.remove(load_manifest(table, None)["files"][0])
    rep = verify_table(spark, table, deep=True)
    assert not rep["ok"]
    assert not rep["checks"]["files_exist"]["ok"]
    assert rep["checks"]["files_exist"]["n_missing"] == 1


def _tamper(table, version, fn):
    p = _manifest_path(table, version)
    m = json.load(open(p))
    fn(m)
    os.remove(p)
    with open(p, "w") as fh:
        json.dump(m, fh)


def test_fsck_detects_tampered_metadata(spark, sf_dir, table):
    _green_table(spark, sf_dir, table)
    head = load_manifest(table, None)["version"]

    _tamper(table, head, lambda m: m.__setitem__("n_rows", m["n_rows"] + 1))
    rep = verify_table(spark, table, deep=True)
    assert not rep["checks"]["row_count"]["ok"]

    def wrong_partition(m):
        f = next(iter(m["partitions"]))
        m["partitions"][f]["event_type"] = "nope"

    _tamper(table, head, wrong_partition)
    rep = verify_table(spark, table, deep=True)
    assert not rep["checks"]["partition_purity"]["ok"]

    def stray_stats(m):
        m["stats"]["/nonexistent/file.parquet"] = {"event_id": [0, 1]}

    _tamper(table, head, stray_stats)
    rep = verify_table(spark, table)
    assert not rep["checks"]["stats_scoped"]["ok"]


def test_fsck_detects_txn_regression(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(spark, e, table, txn_app="app", txn_version=5)
    write_version(spark, e.limit(3), table, mode="append")
    # simulate a corrupted manifest claiming an older txn landed later
    _tamper(table, 2, lambda m: m.__setitem__("txn", {"app": "app", "version": 4}))
    rep = verify_table(spark, table)
    assert not rep["checks"]["txn_monotonic"]["ok"]


# ---------------------------------------------------------------------------
# partition-scoped DML (delete_version / update_version partition_scope)
# ---------------------------------------------------------------------------


def test_scoped_delete_skips_unscoped_files(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        update_version,
    )

    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    n_files = len(load_manifest(table, 1)["files"])
    # scope-only delete (predicate=None): the Delta partition-DELETE form
    r = delete_version(spark, table, partition_scope={"event_type": ["view"]})
    assert r["files_scanned"] == 1 < n_files
    got = read_version(spark, table)
    want = e.filter(F.col("event_type") != "view")
    assert got.count() == want.count() and got.exceptAll(want).isEmpty()
    # scope + predicate compose (AND): only in-scope matching rows go
    r2 = delete_version(
        spark,
        table,
        F.col("event_id") % 2 == 0,
        mode="mor",
        partition_scope={"event_type": ["click"]},
    )
    assert r2["files_rewritten"] == 0  # MOR stays zero-rewrite
    assert r2["files_scanned"] < len(load_manifest(table, None)["files"])
    want2 = e.filter(
        (F.col("event_type") != "view")
        & ~((F.col("event_type") == "click") & (F.col("event_id") % 2 == 0))
    )
    got2 = read_version(spark, table)
    assert got2.count() == want2.count() and got2.exceptAll(want2).isEmpty()
    # scoped UPDATE, both modes
    r3 = update_version(
        spark,
        table,
        None,
        {"value": F.lit(0.0)},
        partition_scope={"event_type": ["signup"]},
    )
    assert r3["files_scanned"] < len(load_manifest(table, None)["files"])
    assert (
        read_version(spark, table)
        .filter((F.col("event_type") == "signup") & (F.col("value") != 0.0))
        .count()
        == 0
    )


def test_scoped_delete_out_of_scope_is_noop(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    r = delete_version(spark, table, partition_scope={"event_type": ["zzz"]})
    assert r["n_deleted"] == 0 and r["files_rewritten"] == 0
    assert r["files_scanned"] == 0  # every file skipped from the manifest
    assert read_version(spark, table).count() == e.count()


def test_scoped_delete_without_partitioning_scans_all(spark, sf_dir, table):
    # scope on an UNPARTITIONED table: no skipping, but the scope still
    # narrows the predicate (correctness never depends on the map)
    e = _events(spark, sf_dir)
    write_version(spark, e.repartition(4), table)
    r = delete_version(spark, table, partition_scope={"event_type": ["view"]})
    assert r["files_scanned"] == 4
    assert (
        read_version(spark, table).count()
        == e.filter(F.col("event_type") != "view").count()
    )


def test_dml_requires_predicate_or_scope(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(spark, e, table)
    with pytest.raises(ValueError, match="predicate"):
        delete_version(spark, table)


# ---------------------------------------------------------------------------
# table-level CHECK constraints (write_version check_constraints,
# add_constraint / drop_constraint)
# ---------------------------------------------------------------------------


def _orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_constraints_enforced_on_append(spark, sf_dir, table):
    import glob

    o = _orders(spark, sf_dir)
    write_version(
        spark, o, table, check_constraints={"price_pos": "o_totalprice > 0"}
    )
    staged = set(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_version(
            spark,
            o.limit(5).withColumn("o_totalprice", F.lit(-1.0)),
            table,
            mode="append",
        )
    # the refused commit left no orphan bytes and no version
    assert set(glob.glob(os.path.join(table, "data", "*", "*.parquet"))) == staged
    assert load_manifest(table, None)["version"] == 1
    # NULL violates (SQL CHECK semantics)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_version(
            spark,
            o.limit(3).withColumn("o_totalprice", F.lit(None).cast("double")),
            table,
            mode="append",
        )
    # a clean append inherits and lands with the contract carried
    v = write_version(spark, o.limit(5), table, mode="append")
    assert load_manifest(table, v)["constraints"] == {
        "price_pos": "o_totalprice > 0"
    }


def _staged_tree(table):
    """Every file and directory under the table's data dir."""
    return sorted(
        os.path.relpath(os.path.join(root, n), table)
        for root, dirs, names in os.walk(os.path.join(table, "data"))
        for n in names + dirs
    )


def _checked_groups(spark, table):
    """A table partitioned on ``g`` with CHECK ``id >= 0``, and a frame
    of rows that violate it."""
    rows = spark.range(0, 30).select("id", (F.col("id") % 3).alias("g"))
    write_version(
        spark, rows, table, partition_by=["g"],
        check_constraints={"nonneg": "id >= 0"},
    )
    return spark.range(-6, 0).select("id", (F.col("id") % 3).alias("g"))


def test_refused_partitioned_commits_leave_no_staging(spark, table):
    """A refused commit on a partitioned table discards its WHOLE
    staging dir, every partition subdirectory included — vacuum only
    sweeps files that manifests name, so a leftover is never reclaimed."""
    bad = _checked_groups(spark, table)
    before = _staged_tree(table)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_version(spark, bad, table, mode="append")
    assert _staged_tree(table) == before
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        overwrite_partitions(spark, bad, table)
    assert _staged_tree(table) == before
    assert load_manifest(table, None)["version"] == 1


def test_refused_overwrite_partitions_stops_before_live_scans(
    spark, table, monkeypatch
):
    """A contract refusal found on the staged replacement ends the call
    at once: no live-row count of the replaced or unmapped files and no
    rewrite of the unmapped file run (a COW update leaves one unmapped
    file here), and the staging is discarded. Checked by spying on
    ``_live_scan`` and ``_write_data_files`` and by the Python actions
    of the call's job group: only the derived scope (``collect``), the
    scope check (``count``) and the contract aggregation (``first``)
    remain."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        update_version,
    )

    bad = _checked_groups(spark, table)
    update_version(
        spark, table, predicate=F.col("id") == 4, assignments={"id": F.lit(40)}
    )
    head = load_manifest(table, None)
    assert set(head["files"]) - set(head["partitions"]), "no unmapped file"
    before = _staged_tree(table)
    called = []
    for name in ("_live_scan", "_write_data_files"):
        real = getattr(versioned, name)
        monkeypatch.setattr(
            versioned, name,
            lambda *a, _n=name, _f=real, **k: called.append(_n) or _f(*a, **k),
        )
    sc = spark.sparkContext
    group = "refused-overwrite-partitions"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="CHECK constraint violation"):
            overwrite_partitions(spark, bad, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    st = sc.statusTracker()
    sites = {
        info.name
        for j in st.getJobIdsForGroup(group)
        for sid in st.getJobInfo(j).stageIds
        for info in [st.getStageInfo(sid)]
        if info is not None and "versioned.py:" in info.name
    }
    actions = sorted(site.split(" at ", 1)[0] for site in sites)
    assert called == []
    assert set(actions) <= {"collect", "count", "first"}, actions
    assert actions.count("count") <= 1, actions
    assert _staged_tree(table) == before
    assert load_manifest(table, None)["version"] == head["version"]


def test_append_cannot_change_contract(spark, sf_dir, table):
    o = _orders(spark, sf_dir)
    write_version(
        spark, o, table, check_constraints={"price_pos": "o_totalprice > 0"}
    )
    with pytest.raises(ValueError, match="cannot change the recorded"):
        write_version(
            spark,
            o.limit(5),
            table,
            mode="append",
            check_constraints={"weaker": "TRUE"},
        )


def test_add_constraint_validates_history(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        add_constraint,
        drop_constraint,
    )

    o = _orders(spark, sf_dir)
    write_version(spark, o, table)
    m1 = load_manifest(table, 1)
    v = add_constraint(
        spark, table, "status_valid", "o_orderstatus IN ('F','O','P')"
    )
    m2 = load_manifest(table, v)
    assert m2["mode"] == "add_constraint"
    assert m2["files"] == m1["files"]  # metadata-only commit
    with pytest.raises(ValueError, match="existing rows violate"):
        add_constraint(spark, table, "impossible", "o_orderkey < 0")
    with pytest.raises(ValueError, match="already recorded"):
        add_constraint(spark, table, "status_valid", "TRUE")
    # the added constraint is enforced on the next append
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        write_version(
            spark,
            o.limit(2).withColumn("o_orderstatus", F.lit("X")),
            table,
            mode="append",
        )
    v3 = drop_constraint(table, "status_valid")
    assert "constraints" not in load_manifest(table, v3)
    with pytest.raises(ValueError, match="not recorded"):
        drop_constraint(table, "status_valid")
    # contract gone: the formerly-violating append now lands
    write_version(
        spark,
        o.limit(2).withColumn("o_orderstatus", F.lit("X")),
        table,
        mode="append",
    )


def test_fsck_backstops_dml_constraint_break(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        update_version,
    )

    o = _orders(spark, sf_dir)
    write_version(
        spark, o, table, check_constraints={"price_pos": "o_totalprice > 0"}
    )
    rep = verify_table(spark, table, deep=True)
    assert rep["checks"]["constraints_hold"]["ok"]
    # UPDATE carries the contract but does not re-validate (documented)
    update_version(
        spark, table, F.col("o_orderkey") % 97 == 0,
        {"o_totalprice": F.lit(-5.0)},
    )
    assert load_manifest(table, None)["constraints"]
    rep2 = verify_table(spark, table, deep=True)
    assert not rep2["ok"]
    assert rep2["checks"]["constraints_hold"]["violations"]["price_pos"] > 0


def test_restore_rolls_contract_back(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        drop_constraint,
        restore_version,
    )

    o = _orders(spark, sf_dir)
    write_version(
        spark, o, table, check_constraints={"price_pos": "o_totalprice > 0"}
    )
    drop_constraint(table, "price_pos")
    assert "constraints" not in load_manifest(table, None)
    restore_version(spark, table, 1)
    assert load_manifest(table, None)["constraints"] == {
        "price_pos": "o_totalprice > 0"
    }


# ---------------------------------------------------------------------------
# dynamic partition overwrite (overwrite_partitions / replaceWhere)
# ---------------------------------------------------------------------------


def test_replace_where_swaps_only_scoped_partitions(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    m1 = load_manifest(table, 1)
    backfill = (
        e.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 2)
        .repartition("event_type")
    )
    r = overwrite_partitions(spark, backfill, table)  # derived scope
    assert r["files_replaced"] >= 1 and r["files_rewritten"] == 0
    got = read_version(spark, table)
    want = e.filter(F.col("event_type") != "click").unionByName(backfill)
    assert got.count() == want.count() and got.exceptAll(want).isEmpty()
    # out-of-scope partitions carried by FILE IDENTITY, not rewritten
    m2 = load_manifest(table, 2)
    click_files = {
        f for f in m1["files"] if m1["partitions"][f]["event_type"] == "click"
    }
    assert set(m1["files"]) - click_files <= set(m2["files"])
    assert m2["n_rows"] == got.count()


def test_replace_where_guards(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    e = _events(spark, sf_dir)
    # unpartitioned table refused
    write_version(spark, e, table)
    with pytest.raises(ValueError, match="partitioned table"):
        overwrite_partitions(spark, e.limit(5), table)
    # out-of-scope incoming rows refused (the silent-row-loss guard)
    t2 = table + "_p"
    write_version(
        spark, e.repartition("event_type"), t2, partition_by=["event_type"]
    )
    with pytest.raises(ValueError, match="OUTSIDE the replaced scope"):
        overwrite_partitions(
            spark, e.limit(50), t2, partition_scope={"event_type": ["view"]}
        )
    with pytest.raises(ValueError, match="not partition columns"):
        overwrite_partitions(
            spark, e.limit(0), t2, partition_scope={"user_id": [1]}
        )
    with pytest.raises(ValueError, match="nothing says what to replace"):
        overwrite_partitions(spark, e.limit(0), t2)


def test_replace_where_scans_unmapped_and_keeps_dvs(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    # MOR-delete some purchase rows (DV on a partition we will CARRY),
    # COW-delete some error rows (unmaps the rewritten file)
    delete_version(
        spark,
        table,
        (F.col("event_type") == "purchase") & (F.col("event_id") % 3 == 0),
        mode="mor",
    )
    delete_version(
        spark,
        table,
        (F.col("event_type") == "error") & (F.col("event_id") % 2 == 0),
    )
    backfill = (
        e.filter(F.col("event_type") == "signup")
        .withColumn("value", F.lit(0.0))
        .repartition("event_type")
    )
    r = overwrite_partitions(spark, backfill, table)
    assert r["files_rewritten"] >= 1  # the unmapped file was re-sieved
    got = read_version(spark, table)
    want = (
        e.filter(~F.col("event_type").isin("purchase", "error", "signup"))
        .unionByName(
            e.filter(
                (F.col("event_type") == "purchase")
                & (F.col("event_id") % 3 != 0)
            )
        )
        .unionByName(
            e.filter(
                (F.col("event_type") == "error") & (F.col("event_id") % 2 != 0)
            )
        )
        .unionByName(backfill)
    )
    assert got.count() == want.count() and got.exceptAll(want).isEmpty()
    assert load_manifest(table, None)["n_rows"] == got.count()


def test_shadow_prefix_collision_refused(spark, table):
    df = spark.range(5).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("g"),
        F.lit("x").alias("__part_g"),
    )
    with pytest.raises(ValueError, match="reserved partition shadow"):
        write_version(spark, df, table, partition_by=["g"])


def test_fsck_stray_partition_entry_does_not_crash_deep(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    write_version(
        spark, e.repartition("event_type"), table, partition_by=["event_type"]
    )
    head = load_manifest(table, None)["version"]
    _tamper(
        table,
        head,
        lambda m: m["partitions"].__setitem__(
            "/nonexistent/file.parquet", {"event_type": "ghost"}
        ),
    )
    rep = verify_table(spark, table, deep=True)
    assert not rep["checks"]["partitions_scoped"]["ok"]
    assert rep["checks"]["partition_purity"]["ok"]  # real entries still audited


# ---------------------------------------------------------------------------
# generated columns (write_version generated_cols — hidden partitioning)
# ---------------------------------------------------------------------------

GEN_DT = {"dt": "CAST(date_trunc('day', ts) AS DATE)"}


def _events_ts(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "ts", "event_type", "user_id"
    )


def test_generated_column_derives_and_inherits(spark, sf_dir, table):
    e = _events_ts(spark, sf_dir)
    write_version(
        spark,
        e.filter(F.col("event_id") % 2 == 0).repartition(F.to_date("ts")),
        table,
        generated_cols=GEN_DT,
        partition_by=["dt"],
    )
    # append WITHOUT dt and WITHOUT params: derivation + layout inherit
    write_version(
        spark,
        e.filter(F.col("event_id") % 2 == 1).repartition(F.to_date("ts")),
        table,
        mode="append",
    )
    m = load_manifest(table, 2)
    assert m["generated_cols"] == GEN_DT
    assert set(m["partitions"]) == {os.path.realpath(f) for f in m["files"]}
    import datetime

    d0 = datetime.date(2024, 1, 15)
    df, info = read_version_pruned(spark, table, keys={"dt": [d0]})
    assert info["partition_skipped"] > 0 and info["footer_files"] == 0
    assert df.count() == e.filter(F.to_date("ts") == F.lit(d0)).count()


def test_generated_column_mismatch_refused(spark, sf_dir, table):
    import datetime

    e = _events_ts(spark, sf_dir)
    write_version(spark, e, table, generated_cols=GEN_DT, partition_by=["dt"])
    with pytest.raises(ValueError, match="generated-column mismatch"):
        write_version(
            spark,
            e.limit(5).withColumn("dt", F.lit(datetime.date(1999, 1, 1))),
            table,
            mode="append",
        )
    # a correctly-precomputed dt is accepted (validated, not re-derived)
    write_version(
        spark,
        e.limit(5).withColumn("dt", F.expr(GEN_DT["dt"])),
        table,
        mode="append",
    )
    with pytest.raises(ValueError, match="cannot change the recorded generated"):
        write_version(
            spark, e.limit(5), table, mode="append",
            generated_cols={"dt": "CAST(NULL AS DATE)"},
        )


def test_generated_column_fsck_backstop_and_clone_carry(spark, sf_dir, tmp_path):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        update_version,
    )

    e = _events_ts(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(spark, e, src, generated_cols=GEN_DT, partition_by=["dt"])
    clone_table(src, dst)
    assert load_manifest(dst, 1)["generated_cols"] == GEN_DT
    rep = verify_table(spark, src, deep=True)
    assert rep["checks"]["generated_match"]["ok"]
    update_version(
        spark, src, F.col("event_id") % 101 == 0, {"dt": "DATE'1999-01-01'"}
    )
    rep2 = verify_table(spark, src, deep=True)
    assert not rep2["ok"]
    assert rep2["checks"]["generated_match"]["mismatches"]["dt"] > 0


# ---------------------------------------------------------------------------
# round-out: replaceWhere index maintenance, restore-by-tag, RETAIN-hours
# vacuum, multi-column partition layouts
# ---------------------------------------------------------------------------


def test_replace_where_maintains_bloom_index(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    e = _events(spark, sf_dir)
    write_version(
        spark,
        e.repartition("event_type"),
        table,
        partition_by=["event_type"],
        index_cols=["event_id"],
    )
    backfill = (
        e.filter(F.col("event_type") == "click")
        .withColumn("value", F.lit(0.0))
        .repartition("event_type")
    )
    overwrite_partitions(spark, backfill, table, index_cols=["event_id"])
    # a key probe on the new head still prunes via the chained index
    k = e.filter(F.col("event_type") == "click").agg(
        F.min("event_id")
    ).first()[0]
    df, info = read_version_pruned(spark, table, keys={"event_id": [k]})
    assert df.count() == 1 and info["files_read"] < info["files_total"]


def test_restore_by_tag(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        restore_version,
        tag_version,
    )

    e = _events(spark, sf_dir)
    write_version(spark, e, table)
    tag_version(table, "golden")
    delete_version(spark, table, F.col("event_id") % 2 == 0)
    r = restore_version(spark, table, tag="golden")
    assert r["restored_from"] == 1 and r["data_files_written"] == 0
    assert read_version(spark, table).count() == e.count()
    with pytest.raises(ValueError, match="exactly one of"):
        restore_version(spark, table)
    with pytest.raises(ValueError, match="exactly one of"):
        restore_version(spark, table, 1, tag="golden")
    with pytest.raises(ValueError, match="not found"):
        restore_version(spark, table, tag="nope")


def test_vacuum_retain_hours(spark, sf_dir, table):
    e = _events(spark, sf_dir)
    for i in range(4):
        write_version(spark, e.limit(5 + i), table, mode="append")
    # a huge horizon retains everything regardless of keep_last
    res = vacuum(table, keep_last=1, older_than_hours=24.0)
    assert res["versions_dropped"] == 0
    assert [m["version"] for m in __import__(
        "bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned",
        fromlist=["versions"],
    ).versions(table)] == [1, 2, 3, 4]
    # a zero horizon degrades to pure keep_last
    res2 = vacuum(table, keep_last=2, older_than_hours=0.0)
    assert res2["versions_dropped"] == 2
    assert read_version(spark, table).count() == 5 + 6 + 7 + 8


def test_multi_column_partition_layout(spark, sf_dir, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    e = _events(spark, sf_dir).withColumn(
        "half", (F.col("event_id") % 2).cast("string")
    )
    write_version(
        spark,
        e.repartition("event_type", "half"),
        table,
        partition_by=["event_type", "half"],
    )
    m = load_manifest(table, 1)
    assert set(m["partition_cols"]) == {"event_type", "half"}
    # pruning composes across both columns
    df, info = read_version_pruned(
        spark, table, keys={"event_type": ["click"], "half": ["0"]}
    )
    want = e.filter((F.col("event_type") == "click") & (F.col("half") == "0"))
    assert df.count() == want.count() and info["partition_skipped"] > 0
    # derived scope is refused on multi-column layouts; explicit works
    repl = want.withColumn("value", F.lit(0.0))
    with pytest.raises(ValueError, match="cross product"):
        overwrite_partitions(spark, repl, table)
    r = overwrite_partitions(
        spark,
        repl,
        table,
        partition_scope={"event_type": ["click"], "half": ["0"]},
    )
    assert r["files_replaced"] >= 1
    got = read_version(spark, table)
    want_all = e.withColumn(
        "value",
        F.when(
            (F.col("event_type") == "click") & (F.col("half") == "0"),
            F.lit(0.0),
        ).otherwise(F.col("value")),
    )
    assert got.count() == want_all.count() and got.exceptAll(want_all).isEmpty()


def test_partition_value_special_chars_round_trip(spark, table):
    # hive dir-encoding escapes path-hostile characters; the manifest
    # map must record the DECODED value and pruning must match it
    vals = ["a b", "x=y", "p/q", "50%", "héllo", "dot.dash-_"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals * 3)], "k long, g string"
    )
    write_version(spark, df.repartition("g"), table, partition_by=["g"])
    m = load_manifest(table, 1)
    recorded = {p["g"] for p in m["partitions"].values()}
    assert recorded == set(vals)
    for v in vals:
        got, info = read_version_pruned(spark, table, keys={"g": [v]})
        assert got.count() == 3, v
        assert info["partition_skipped"] > 0, v
    # and the full read returns the decoded originals
    assert {
        r["g"] for r in read_version(spark, table).select("g").distinct().collect()
    } == set(vals)


def test_fsck_deep_on_clone_and_scoped_dml_on_clone(spark, sf_dir, tmp_path):
    # a clone borrows bytes outside its own root: fsck must still find
    # them, and partition-scoped DML must still skip them correctly
    e = _events(spark, sf_dir)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_version(
        spark, e.repartition("event_type"), src,
        partition_by=["event_type"], stats_cols=["event_id"],
    )
    clone_table(src, dst)
    rep = verify_table(spark, dst, deep=True)
    assert rep["ok"], rep["errors"]
    r = delete_version(spark, dst, partition_scope={"event_type": ["view"]})
    assert r["files_scanned"] < len(load_manifest(src, 1)["files"])
    assert (
        read_version(spark, dst).count()
        == e.filter(F.col("event_type") != "view").count()
    )
    assert read_version(spark, src).count() == e.count()  # src untouched


def test_norm_part_value_matches_spark_dir_encoding(spark, tmp_path):
    # _norm_part_value (probe side) must agree with the shadow
    # CAST(col AS STRING) (write side) for every supported type —
    # a disagreement would silently skip live files on probes
    import datetime

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _norm_part_value,
    )

    cases = [
        ("int", "long", [0, -7, 42, 2**40]),
        ("bool", "boolean", [True, False]),
        (
            "date",
            "date",
            [datetime.date(2024, 1, 2), datetime.date(1970, 12, 31)],
        ),
        ("str", "string", ["plain", "UPPER", ""]),
    ]
    for name, typ, values in cases:
        t = str(tmp_path / f"t_{name}")
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], f"k long, g {typ}"
        )
        write_version(spark, df.repartition("g"), t, partition_by=["g"])
        m = load_manifest(t, 1)
        recorded = {p["g"] for p in m["partitions"].values()}
        for v in values:
            if v == "":
                # Spark dir-encodes '' as the hive null sentinel, so
                # the map records None — the conflation the probe-side
                # rule below compensates for
                assert None in recorded, (name, v)
            else:
                assert _norm_part_value(v) in recorded, (name, v)
            got, info = read_version_pruned(spark, t, keys={"g": [v]})
            # for '': the probe must keep the None-recorded file
            # (conflation rule) and the exact filter then returns
            # exactly the ''-rows
            assert got.count() == 1, (name, v)


def test_empty_string_partition_probe_and_scope(spark, table, tmp_path):
    # the self-caught conflation bug: '' dir-encodes to the hive null
    # sentinel; probes and scoped DML must keep None-recorded files
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        overwrite_partitions,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "a"), (4, None)], "k long, g string"
    )
    write_version(spark, df.repartition("g"), table, partition_by=["g"])
    got, info = read_version_pruned(spark, table, keys={"g": [""]})
    assert sorted(r["k"] for r in got.collect()) == [1, 2]  # no row loss
    assert info["partition_skipped"] > 0  # the 'a' file still skips
    # scoped delete of the ''-rows: None-recorded file stays a candidate
    r = delete_version(spark, table, partition_scope={"g": [""]})
    assert r["n_deleted"] == 2
    left = read_version(spark, table)
    assert sorted((x["k"], x["g"]) for x in left.collect()) == [
        (3, "a"), (4, None)
    ]  # the NULL row survived the ''-scoped delete
    # replaceWhere refuses the ambiguous partition loudly
    with pytest.raises(ValueError, match="empty/null partition"):
        overwrite_partitions(
            spark, df.limit(0), table, partition_scope={"g": [""]}
        )
    with pytest.raises(ValueError, match="empty/null partition"):
        overwrite_partitions(spark, df.filter(F.col("g") == ""), table)


def test_fsck_purity_accepts_hive_null_conflation(spark, table):
    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, None)], "k long, g string"
    )
    write_version(spark, df.repartition("g"), table, partition_by=["g"])
    rep = verify_table(spark, table, deep=True)
    assert rep["checks"]["partition_purity"]["ok"], rep["checks"][
        "partition_purity"
    ]
