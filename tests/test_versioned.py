"""Versioned parquet tables: snapshot isolation, time travel, append
composition, vacuum retention, commit-collision detection."""

from __future__ import annotations

import os

import pytest

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    read_version,
    vacuum,
    versions,
    write_version,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_versions_accumulate_and_latest_wins(spark, table):
    assert versions(table) == []
    v1 = write_version(spark, spark.range(10), table)
    v2 = write_version(spark, spark.range(100), table)
    assert (v1, v2) == (1, 2)
    assert read_version(spark, table).count() == 100
    assert [v["version"] for v in versions(table)] == [1, 2]


def test_time_travel_is_isolated_from_later_commits(spark, table):
    write_version(spark, spark.range(10), table)
    pinned = read_version(spark, table, version=1)
    write_version(spark, spark.range(0), table)  # destroy latest
    assert pinned.count() == 10  # the pinned snapshot is untouched
    assert read_version(spark, table, version=1).count() == 10
    assert read_version(spark, table).count() == 0


def test_append_composes_without_rewriting(spark, table):
    write_version(spark, spark.range(10), table)
    files_v1 = set(
        f for v in [1] for f in __manifest_files(table, v)
    )
    write_version(spark, spark.range(10, 15), table, mode="append")
    files_v2 = set(__manifest_files(table, 2))
    assert files_v1 < files_v2  # v2 reuses v1's files untouched
    assert read_version(spark, table).count() == 15
    got = sorted(r["id"] for r in read_version(spark, table).collect())
    assert got == list(range(15))


def __manifest_files(table, version):
    import json

    with open(os.path.join(table, "_versions", f"v{version:08d}.json")) as fh:
        return json.load(fh)["files"]


def test_vacuum_retains_window_and_deletes_orphans(spark, table):
    write_version(spark, spark.range(5), table)
    write_version(spark, spark.range(6), table)
    write_version(spark, spark.range(7), table, mode="append")
    stats = vacuum(table, keep_last=2)
    assert stats["versions_dropped"] == 1
    assert [v["version"] for v in versions(table)] == [2, 3]
    # v2's files survive (v3 references them via append); v1's are gone
    assert read_version(spark, table, version=3).count() == 13
    with pytest.raises(ValueError, match="not found"):
        read_version(spark, table, version=1)
    # the orphaned v1 data files were actually removed
    assert stats["files_deleted"] >= 1


def test_unknown_version_and_empty_table_error(spark, table):
    with pytest.raises(ValueError, match="no committed versions"):
        read_version(spark, table)
    write_version(spark, spark.range(3), table)
    with pytest.raises(ValueError, match="not found"):
        read_version(spark, table, version=99)


def test_commit_collision_is_detected_not_overwritten(spark, table):
    # simulate a racing writer that already created the next manifest
    write_version(spark, spark.range(3), table)
    os.makedirs(os.path.join(table, "_versions"), exist_ok=True)
    blocker = os.path.join(table, "_versions", "v00000002.json")
    with open(blocker, "w") as fh:
        fh.write('{"version": 2, "mode": "overwrite", "files": [], '
                 '"n_rows": 0, "committed_at": 0}')
    # our writer must NOT clobber v2 — it commits as v3
    v = write_version(spark, spark.range(4), table)
    assert v == 3
    assert read_version(spark, table, version=3).count() == 4
    # the racing writer's manifest is untouched
    assert __manifest_files(table, 2) == []


def test_streaming_ingest_commits_a_version_per_batch(spark, table):
    """Structured Streaming → versioned table: each micro-batch lands
    as one append commit, so the table gains a readable, time-travelable
    version per batch and a reader pinned mid-stream is isolated from
    later batches."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version,
        versions,
        write_version,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.streaming.events import (
        read_rate_stream,
    )

    stream = read_rate_stream(spark, rows_per_batch=50, num_partitions=2)

    def commit_batch(batch_df, batch_id):
        write_version(batch_df.sparkSession, batch_df, table, mode="append")

    qy = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", table + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination(120)
    vs = versions(table)
    assert len(vs) >= 1
    latest = read_version(spark, table)
    assert latest.count() == sum(v["n_rows"] for v in [vs[-1]])
    assert latest.count() == 50 * len(vs)
    # a pinned early version stays smaller than the latest
    if len(vs) > 1:
        assert read_version(spark, table, version=1).count() == 50


# ---------------------------------------------------------------------------
# copy-on-write MERGE / DELETE
# ---------------------------------------------------------------------------


def _clustered_table(spark, table, n=100, files=4):
    """v1 = ids 0..n-1 with val=id, range-clustered so each data file
    holds a contiguous id span (a selective merge touches one file)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(n)
        .withColumn("val", F.col("id").cast("long"))
        .repartitionByRange(files, "id")
    )
    write_version(spark, df, table)
    return __manifest_files(table, 1)


def test_merge_rewrites_only_touched_files(spark, table):
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    v1_files = _clustered_table(spark, table)
    # update ids 0..4 (one range file) + insert ids 1000..1004
    inc = spark.range(5).union(spark.range(1000, 1005)).withColumn(
        "val", (F.col("id") * 10).cast("long")
    )
    stats = merge_version(spark, inc, table, keys=["id"])
    assert stats["version"] == 2
    assert stats["files_rewritten"] >= 1
    assert stats["files_carried"] >= 1
    assert stats["files_rewritten"] + stats["files_carried"] == len(v1_files)
    v2_files = set(__manifest_files(table, 2))
    carried = set(v1_files) & v2_files
    assert len(carried) == stats["files_carried"]  # untouched files reused

    got = {r["id"]: r["val"] for r in read_version(spark, table).collect()}
    assert len(got) == 105 and stats["n_rows"] == 105
    assert got[3] == 30 and got[1002] == 10020  # updates + inserts win
    assert got[50] == 50  # carried rows untouched
    # snapshot isolation: v1 still reads the pre-merge state
    v1 = {r["id"]: r["val"] for r in read_version(spark, table, version=1).collect()}
    assert v1[3] == 3 and 1002 not in v1


def test_merge_pure_insert_carries_every_file(spark, table):
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    v1_files = _clustered_table(spark, table)
    inc = spark.range(500, 510).withColumn("val", F.col("id").cast("long"))
    stats = merge_version(spark, inc, table, keys=["id"])
    assert stats["files_rewritten"] == 0
    assert stats["files_carried"] == len(v1_files)
    assert read_version(spark, table).count() == 110


def test_merge_on_empty_table_bootstraps_v1(spark, table):
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    inc = spark.range(7).withColumn("val", F.col("id").cast("long"))
    stats = merge_version(spark, inc, table, keys=["id"])
    assert stats == {
        "version": 1,
        "files_rewritten": 0,
        "files_carried": 0,
        "n_rows": 7,
    }


def test_delete_semantics_and_file_carry(spark, table):
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        delete_version,
    )

    v1_files = _clustered_table(spark, table)
    stats = delete_version(spark, table, F.col("id") < 10)
    assert stats["n_deleted"] == 10
    assert stats["files_rewritten"] >= 1
    assert stats["files_carried"] + stats["files_rewritten"] == len(v1_files)
    assert read_version(spark, table).count() == 90
    assert read_version(spark, table, version=1).count() == 100

    # NULL predicate rows are KEPT (SQL DELETE semantics)
    null_stats = delete_version(
        spark, table, F.when(F.col("id") < 20, F.lit(None)).otherwise(F.lit(False))
    )
    assert null_stats["n_deleted"] == 0
    assert read_version(spark, table).count() == 90


def test_cow_commit_conflict_is_loud(spark, table):
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        CommitConflict,
        delete_version,
        merge_version,
    )

    _clustered_table(spark, table)
    write_version(spark, spark.range(3).withColumn("val", F.lit(0)), table)  # v2
    # type-consistent with the base snapshot: the schema-on-write gate
    # (checked against base_version) would otherwise fire first
    inc = spark.range(2).withColumn("val", F.lit(9).cast("long"))
    with pytest.raises(CommitConflict, match="advanced past v1"):
        merge_version(spark, inc, table, keys=["id"], base_version=1)
    with pytest.raises(CommitConflict, match="advanced past v1"):
        delete_version(spark, table, F.col("id") < 1, base_version=1)
    # nothing committed
    assert [v["version"] for v in versions(table)] == [1, 2]


def test_streaming_cdc_upserts_via_copy_on_write_merge(spark, table):
    """Structured Streaming CDC apply: each micro-batch MERGEs into the
    versioned table through the copy-on-write path — late re-deliveries
    of a key overwrite instead of duplicating (the streaming analog of
    the reference's rerun-duplication fix), every batch is a readable
    version, and files untouched by a batch's keys carry forward.
    Restart replay of a committed batch is absorbed by merge semantics,
    not duplicated — effectively-once on top of at-least-once delivery."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
        read_version,
        versions,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.streaming.events import (
        read_rate_stream,
    )

    stream = read_rate_stream(spark, rows_per_batch=40, num_partitions=2)
    # key space folded mod 30 → later batches REVISIT earlier keys
    cdc = stream.select(
        (F.col("event_id") % 30).alias("id"), F.col("event_id").alias("rev")
    )

    def apply_batch(batch_df, batch_id):
        merge_version(
            batch_df.sparkSession,
            batch_df,
            table,
            keys=["id"],
            order_by=[F.desc("rev")],  # highest revision wins
        )

    qy = (
        cdc.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", table + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination(120)
    vs = versions(table)
    assert len(vs) >= 1
    latest = {r["id"]: r["rev"] for r in read_version(spark, table).collect()}
    total = 40 * len(vs)
    # upsert, not append: at most one row per key, each holding the
    # highest revision delivered for that key
    assert len(latest) == min(30, total)
    for k, rev in latest.items():
        assert rev % 30 == k
        assert rev == max(v for v in range(total) if v % 30 == k)
    # replaying an already-applied batch changes nothing (restart path)
    replay = spark.createDataFrame(
        [(i % 30, i) for i in range(40)], "id long, rev long"
    )
    merge_version(spark, replay, table, keys=["id"], order_by=[F.desc("rev")])
    after = {r["id"]: r["rev"] for r in read_version(spark, table).collect()}
    assert after == latest


# ---------------------------------------------------------------------------
# file skipping: prune_manifest_files / read_version_pruned / Bloom keys
# ---------------------------------------------------------------------------


def _spanned_table(spark, table, n=800, files=8):
    """v1 = ids 0..n-1 range-clustered into ``files`` contiguous spans,
    plus 'tag' — a scrambled column every file's min/max envelope spans
    (what envelope pruning CANNOT skip and Bloom pruning can)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(n)
        .withColumn("val", (F.col("id") * 3).cast("long"))
        .withColumn(
            "tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003))
        )
        .repartitionByRange(files, "id")
    )
    write_version(spark, df, table)


def test_pruned_read_skips_files_and_matches_full_scan(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    _spanned_table(spark, table)
    # multi-commit: append a second clustered batch — more files to skip
    from pyspark.sql import functions as F

    extra = (
        spark.range(800, 1200)
        .withColumn("val", (F.col("id") * 3).cast("long"))
        .withColumn("tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003)))
        .repartitionByRange(4, "id")
    )
    write_version(spark, extra, table, mode="append")

    df, info = read_version_pruned(spark, table, ranges={"id": (100, 199)})
    assert info["files_total"] >= 12
    assert 1 <= info["files_read"] < info["files_total"]
    full = read_version(spark, table).filter("id >= 100 AND id <= 199")
    assert df.exceptAll(full).count() == 0
    assert full.exceptAll(df).count() == 0
    assert df.count() == 100


def test_pruned_read_zero_survivor_short_circuit(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    _spanned_table(spark, table)
    df, info = read_version_pruned(spark, table, ranges={"id": (10_000, 20_000)})
    assert info["files_read"] == 0
    assert df.count() == 0
    assert df.columns == ["id", "val", "tag"]


def test_prune_keeps_unknown_stats_and_missing_columns(spark, tmp_path):
    """Conservative-keep contract: a file with NO statistics (or without
    the range column at all — an older-schema file carried through a
    manifest) must never be pruned; a provably-disjoint file must be."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lake import (
        parquet_footer_stats,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        prune_manifest_files,
    )

    good = str(tmp_path / "good.parquet")
    pq.write_table(pa.table({"id": pa.array([0, 1, 2], pa.int64())}), good)
    nostats = str(tmp_path / "nostats.parquet")
    pq.write_table(
        pa.table({"id": pa.array([500, 501], pa.int64())}),
        nostats,
        write_statistics=False,
    )
    oldschema = str(tmp_path / "oldschema.parquet")
    pq.write_table(pa.table({"other": pa.array([9], pa.int64())}), oldschema)

    kept = prune_manifest_files(
        spark, [good, nostats, oldschema], {"id": (400, 600)}
    )
    # good is provably disjoint → dropped; the other two cannot be proven
    assert sorted(kept) == sorted([nostats, oldschema])

    # and the audit surface: unknown stats null the envelope AND counts
    rows = {
        r["file"]: r
        for r in parquet_footer_stats(
            spark, [good, nostats, oldschema], ["id"], strict=False
        ).collect()
    }
    assert rows[good]["n_values"] == 3 and rows[good]["min_val"] == 0.0
    assert rows[nostats]["min_val"] is None and rows[nostats]["max_val"] is None
    assert rows[nostats]["n_values"] is None  # partial counts never look exact
    assert rows[oldschema]["min_val"] is None
    assert rows[oldschema]["n_values"] is None
    # strict mode still refuses both defects
    with pytest.raises(Exception, match="statistics|not in"):
        parquet_footer_stats(spark, [nostats], ["id"], strict=True).collect()


def test_footer_stats_int64_envelope_rounds_outward(spark, tmp_path):
    """int64 stats beyond 2^53 must round OUTWARD into the double
    envelope — an inward-rounded bound would let the prune test drop a
    file that contains qualifying rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lake import (
        parquet_footer_stats,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        prune_manifest_files,
    )

    big = 2**53 + 1  # float(big) rounds DOWN to 2^53
    f = str(tmp_path / "big.parquet")
    pq.write_table(pa.table({"v": pa.array([-big, big], pa.int64())}), f)
    [row] = parquet_footer_stats(spark, [f], ["v"]).collect()
    assert row["min_val"] <= -big
    assert row["max_val"] >= big
    # a point-range on the exact value must keep the file
    assert prune_manifest_files(spark, [f], {"v": (big, big)}) == [f]
    assert prune_manifest_files(spark, [f], {"v": (-big, -big)}) == [f]


def test_bloom_index_prunes_unclustered_point_lookup(spark, table):
    """Equality lookup on a column the layout is NOT clustered by:
    min/max envelopes span the domain (no pruning), the at-rest Bloom
    index reads fewer files; results stay bit-identical either way."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
        write_bloom_index,
    )

    _spanned_table(spark, table)
    write_bloom_index(spark, table, "tag")
    t = (400 * 2654435761) % 100003  # tag of id=400 — one file holds it

    env_df, env_info = read_version_pruned(spark, table, ranges={"tag": (t, t)})
    bloom_df, bloom_info = read_version_pruned(spark, table, keys={"tag": [t]})
    assert env_info["files_total"] == bloom_info["files_total"] == 8
    # scrambled column: envelopes prune nothing, the Bloom index does
    assert env_info["files_read"] == 8
    assert bloom_info["files_read"] < env_info["files_read"]
    got_env = sorted(r["id"] for r in env_df.collect())
    got_bloom = sorted(r["id"] for r in bloom_df.collect())
    assert got_env == got_bloom
    assert 400 in got_bloom


def test_bloom_keys_without_index_is_exact_but_unpruned(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    _spanned_table(spark, table)
    t = (400 * 2654435761) % 100003
    df, info = read_version_pruned(spark, table, keys={"tag": [t]})
    assert info["files_read"] == info["files_total"]  # no index: no pruning
    assert sorted(r["id"] for r in df.collect()) == [400]


def test_empty_manifest_reads_via_recorded_schema(spark, table):
    """A snapshot whose manifest lists NO data files (a delete can
    remove every row and stage no part files) reads as a zero-row frame
    with the committed schema; a pre-schema empty manifest says so
    loudly instead of a bare parquet-reader error."""
    import json

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
    )

    write_version(spark, spark.range(5), table)
    with open(os.path.join(table, "_versions", "v00000001.json")) as fh:
        m1 = json.load(fh)
    m2 = dict(m1, files=[], n_rows=0, version=2)
    with open(os.path.join(table, "_versions", "v00000002.json"), "w") as fh:
        json.dump(m2, fh)

    empty = read_version(spark, table, version=2)
    assert empty.count() == 0 and empty.columns == ["id"]
    df, info = read_version_pruned(
        spark, table, ranges={"id": (0, 10)}, version=2
    )
    assert df.count() == 0 and info == {
        "files_total": 0, "files_read": 0, "footer_files": 0,
        "partition_skipped": 0,
    }

    m3 = {k: v for k, v in m2.items() if k != "schema"}
    m3["version"] = 3
    with open(os.path.join(table, "_versions", "v00000003.json"), "w") as fh:
        json.dump(m3, fh)
    with pytest.raises(ValueError, match="no recorded schema"):
        read_version(spark, table, version=3)


def test_merge_with_relative_table_dir_does_not_duplicate(spark):
    """Regression for the r5 path-canonicalization bug: a relative
    ``table_dir`` must not make copy-on-write miss the carried-file
    comparison and silently duplicate rewritten rows. The relative path
    lives under the PROCESS cwd (no chdir — Spark's JVM resolves
    relative write paths against its launch cwd, not a later Python
    os.chdir)."""
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    rel = f"tmp_rel_tbl_{_uuid.uuid4().hex}"
    try:
        df = (
            spark.range(100)
            .withColumn("val", F.col("id").cast("long"))
            .repartitionByRange(4, "id")
        )
        write_version(spark, df, rel)
        inc = spark.range(5).union(spark.range(1000, 1001)).withColumn(
            "val", (F.col("id") * 10).cast("long")
        )
        stats = merge_version(spark, inc, rel, keys=["id"])
        assert stats["n_rows"] == 101
        got = read_version(spark, rel)
        assert got.count() == 101
        assert got.select("id").distinct().count() == 101  # zero duplicates
    finally:
        shutil.rmtree(rel, ignore_errors=True)


def test_vacuum_drops_at_rest_indexes_of_dropped_versions(spark, table):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        write_bloom_index,
    )

    _spanned_table(spark, table)             # v1
    write_bloom_index(spark, table, "tag")   # index pinned to v1
    write_version(spark, spark.range(5).selectExpr(
        "id", "id AS val", "id AS tag"), table)  # v2
    write_bloom_index(spark, table, "tag")   # index pinned to v2
    v1_idx = os.path.join(table, "_index", "bloom_tag", "v00000001")
    v2_idx = os.path.join(table, "_index", "bloom_tag", "v00000002")
    assert os.path.isdir(v1_idx) and os.path.isdir(v2_idx)

    stats = vacuum(table, keep_last=1)
    assert stats["versions_dropped"] == 1
    assert stats["indexes_dropped"] == 1
    assert not os.path.isdir(v1_idx)   # dropped with its snapshot
    assert os.path.isdir(v2_idx)       # retained version keeps its index


def _partitioned_batch(spark, lo, hi, parts):
    from pyspark.sql import functions as F

    return _tagged_batch(spark, lo, hi, parts).withColumn("g", F.col("id") % 2)


def _lifecycle_ops(spark, table):
    """Append, merge, MOR delete, COW update, overwrite_partitions,
    optimize and restore on a table whose v1 is a
    :func:`_partitioned_batch`; yields after each commit."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        delete_version,
        load_manifest,
        merge_version,
        optimize_table,
        overwrite_partitions,
        restore_version,
        update_version,
    )

    write_version(spark, _partitioned_batch(spark, 400, 480, 2), table, mode="append")
    yield "append"
    inc = spark.createDataFrame(
        [(5000, 0, 7, 0)], "id long, val long, tag long, g long"
    )
    merge_version(spark, inc, table, keys=["id"])
    yield "merge"
    delete_version(spark, table, F.col("id") == 7, mode="mor")
    yield "delete_mor"
    update_version(spark, table, F.col("id") == 3, {"val": F.lit(-1)})
    yield "update_cow"
    overwrite_partitions(
        spark, _partitioned_batch(spark, 0, 400, 4).filter("g = 1"), table
    )
    yield "overwrite_partitions"
    size = sum(os.path.getsize(f) for f in load_manifest(table, None)["files"])
    optimize_table(spark, table, cluster_by=["id"], target_file_bytes=size // 4)
    yield "optimize"
    restore_version(spark, table, 1)
    yield "restore"


def test_declared_index_is_maintained_by_every_commit(spark, table, tmp_path):
    """An index declared ONCE with write_bloom_index is table state:
    every later commit keeps it usable at the declared geometry with no
    per-call option, and key probes keep skipping files. A table that
    never declared one gets no _index dir from the same operations."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        index_params,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(
        spark, _partitioned_batch(spark, 0, 400, 4), table, partition_by=["g"]
    )
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    t100 = (100 * 2654435761) % 100003
    for op in _lifecycle_ops(spark, table):
        p = index_params(table, "tag")
        assert p is not None and (p["m_bits"], p["k"]) == (1 << 12, 2), op
        got, info = read_version_pruned(spark, table, keys={"tag": [t100]})
        assert [r["id"] for r in got.collect()] == [100], op
        assert info["files_read"] < info["files_total"], op

    plain = str(tmp_path / "plain")
    write_version(
        spark, _partitioned_batch(spark, 0, 400, 4), plain, partition_by=["g"]
    )
    for _op in _lifecycle_ops(spark, plain):
        pass
    assert not os.path.exists(os.path.join(plain, "_index"))


def test_append_index_maintenance_is_incremental_and_equivalent(spark, table):
    """Append commits maintain the Bloom index by REFERENCE: the new
    version's dir holds ONLY the commit's new-file rows, its recorded
    chain names the prior links, and the chain union must be
    row-identical to a from-scratch rebuild of the same version. The
    pruned read through the chained index must stay exact for keys in
    both the carried and the new half."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _bloom_index_dir,
        _index_chain_dirs,
        _usable_index_params,
        read_version_pruned,
        write_bloom_index,
        write_version,
    )

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .withColumn(
                "tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003))
            )
            .repartitionByRange(4, "id")
        )

    write_version(spark, batch(0, 400), table)
    write_bloom_index(spark, table, "tag")
    v2 = write_version(spark, batch(400, 800), table, mode="append")
    assert v2 == 2
    params = _usable_index_params(table, "tag", 2)
    assert params["chain"] == [1]  # prior carried by reference
    own_files = {
        r["file"]
        for r in spark.read.parquet(_bloom_index_dir(table, "tag", 2))
        .select("file")
        .distinct()
        .collect()
    }
    assert len(own_files) == 4  # only the append's new files were hashed

    dirs = _index_chain_dirs(table, "tag", 2, params)
    chained = sorted(map(tuple, spark.read.parquet(*dirs).collect()))

    # pruned reads through the chain stay exact for BOTH halves
    for probe_id in (100, 600):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 8

    # chain union == from-scratch rebuild of the same version
    write_bloom_index(spark, table, "tag", version=2)
    rebuilt = sorted(
        map(tuple, spark.read.parquet(_bloom_index_dir(table, "tag", 2)).collect())
    )
    assert chained == rebuilt


def test_append_index_falls_back_to_full_rebuild_without_prior(spark, table):
    """A crash between a commit and its index upkeep leaves the head
    without an index dir. The next commit has no link to chain onto:
    it must rebuild in full, over carried AND new files, at the
    geometry the table recorded — not the library defaults."""
    import shutil

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _bloom_index_dir,
        index_params,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    write_version(spark, _tagged_batch(spark, 200, 400), table, mode="append")
    assert index_params(table, "tag")["chain"] == [1]
    shutil.rmtree(_bloom_index_dir(table, "tag", 2))  # the crash
    assert index_params(table, "tag") is None
    write_version(spark, _tagged_batch(spark, 400, 600), table, mode="append")
    p3 = index_params(table, "tag", version=3)
    assert (p3["m_bits"], p3["k"], p3["chain"]) == (1 << 12, 2, [])
    # keys from every commit must prune and stay exact
    for probe_id in (100, 300, 500):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 6


def test_merge_delete_index_maintenance_is_incremental_and_equivalent(
    spark, table
):
    """Copy-on-write merge and delete ride the chained maintenance too:
    only the rewritten increment is hashed, prior links carry by
    reference. Chain links may hold STALE rows for files the commit
    rewrote — harmless by construction (the pruned read intersects
    qualified files with the live manifest) — so the equivalence
    contract is: chain-union rows RESTRICTED TO LIVE FILES equal a
    from-scratch rebuild, and pruned reads stay exact."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _bloom_index_dir,
        _index_chain_dirs,
        _local_path,
        _usable_index_params,
        delete_version,
        load_manifest,
        merge_version,
        read_version_pruned,
        write_bloom_index,
        write_version,
    )

    df = (
        spark.range(800)
        .withColumn("val", (F.col("id") * 3).cast("long"))
        .withColumn("tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003)))
        .repartitionByRange(8, "id")
    )
    write_version(spark, df, table)
    write_bloom_index(spark, table, "tag")

    t400 = (400 * 2654435761) % 100003
    inc = spark.createDataFrame([(5000, 0, int(t400))], "id long, val long, tag long")
    merge_version(spark, inc, table, keys=["id"])
    delete_version(spark, table, F.col("id") == 400)

    # pruned read through the chained indexes BEFORE any rebuild
    got, info = read_version_pruned(spark, table, keys={"tag": [t400]})
    assert sorted(r["id"] for r in got.collect()) == [5000]
    assert info["files_read"] < info["files_total"]

    # capture both chains first — the in-place rebuilds below would
    # change what v3's chain reads through its v2 link
    chained_live = {}
    for v in (2, 3):
        params = _usable_index_params(table, "tag", v)
        assert params["chain"], f"v{v} should chain, not rebuild"
        dirs = _index_chain_dirs(table, "tag", v, params)
        live = set(load_manifest(table, v)["files"])
        chained_live[v] = sorted(
            (r["file"], r["word"], r["bits"])
            for r in spark.read.parquet(*dirs).collect()
            if _local_path(r["file"]) in live
        )
    for v in (2, 3):
        write_bloom_index(spark, table, "tag", version=v)
        rebuilt = sorted(
            map(
                tuple,
                spark.read.parquet(_bloom_index_dir(table, "tag", v)).collect(),
            )
        )
        assert chained_live[v] == rebuilt, f"v{v} live-row mismatch"


def test_index_chain_compacts_at_max_chain(spark, table, monkeypatch):
    """A chain that would exceed the chain limit triggers a full rebuild
    (chain resets to []) — the log-structured compaction that bounds
    probe-time read amplification and stale-row accumulation."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _usable_index_params,
        maintain_bloom_index,
        read_version_pruned,
        write_bloom_index,
        write_version,
    )

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .withColumn(
                "tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003))
            )
            .repartitionByRange(2, "id")
        )

    write_version(spark, batch(0, 200), table)
    write_bloom_index(spark, table, "tag")
    write_version(spark, batch(200, 400), table, mode="append")
    write_version(spark, batch(400, 600), table, mode="append")
    assert _usable_index_params(table, "tag", 3)["chain"] == [1, 2]

    # re-maintain v3 with a tight limit: the chain would be [1, 2] —
    # 2 prior links > 1 → full rebuild, self-contained
    monkeypatch.setattr(versioned, "_INDEX_MAX_CHAIN", 1)
    maintain_bloom_index(
        spark, table, "tag", version=3, new_files=[], prior_version=2
    )
    assert _usable_index_params(table, "tag", 3)["chain"] == []
    for probe_id in (100, 500):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 6


def test_vacuum_preserves_chain_referenced_index_dirs(spark, table):
    """vacuum drops dropped versions' index dirs EXCEPT dirs a retained
    version's chain still references — dropping v1's dir while v3's
    chain reads through it would silently disable pruning (or worse,
    nothing: the reader skips a broken chain conservatively, but the
    index the write path just paid for would be dead)."""
    import os

    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _bloom_index_dir,
        read_version_pruned,
        vacuum,
        write_bloom_index,
        write_version,
    )

    def batch(lo, hi):
        return (
            spark.range(lo, hi)
            .withColumn("val", (F.col("id") * 3).cast("long"))
            .withColumn(
                "tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003))
            )
            .repartitionByRange(2, "id")
        )

    write_version(spark, batch(0, 200), table)
    write_bloom_index(spark, table, "tag")
    write_version(spark, batch(200, 400), table, mode="append")
    write_version(spark, batch(400, 600), table, mode="append")

    stats = vacuum(table, keep_last=2)  # drops v1 the version…
    assert stats["versions_dropped"] == 1
    assert stats["indexes_dropped"] == 0  # …but its index dir is a live link
    assert os.path.isdir(_bloom_index_dir(table, "tag", 1))

    # the retained versions' chained reads still prune and stay exact
    for probe_id in (100, 500):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 6


def test_bloom_probe_uses_recorded_index_geometry(spark, table):
    """The index records its (m_bits, k); the pruned read probes with
    the RECORDED values — probing a non-default-geometry index with
    defaults would have Bloom false negatives and silently drop files."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
        write_bloom_index,
    )

    _spanned_table(spark, table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    t = (400 * 2654435761) % 100003
    df, info = read_version_pruned(spark, table, keys={"tag": [t]})
    assert sorted(r["id"] for r in df.collect()) == [400]  # no lost rows
    assert info["files_read"] <= info["files_total"]


def _tagged_batch(spark, lo, hi, parts=2):
    from pyspark.sql import functions as F

    return (
        spark.range(lo, hi)
        .withColumn("val", (F.col("id") * 3).cast("long"))
        .withColumn("tag", F.pmod(F.col("id") * F.lit(2654435761), F.lit(100003)))
        .repartitionByRange(parts, "id")
    )


def test_rebuild_of_chained_link_requires_matching_geometry(spark, table):
    """Chained indexes carry an old version's dir BY REFERENCE and probe
    with THEIR recorded (m_bits, k) — rebuilding that dir in place with
    different geometry would give every downstream chain Bloom false
    negatives (silently dropped rows). write_bloom_index must refuse
    the mismatched rebuild; same-geometry rebuilds of the link and any
    rebuild of the LATEST version (chain resets) stay allowed."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag")
    write_version(
        spark, _tagged_batch(spark, 200, 400), table, mode="append"
    )  # v2's chain carries v1's dir by reference

    with pytest.raises(ValueError, match="false negatives"):
        write_bloom_index(spark, table, "tag", version=1, m_bits=1 << 12, k=2)

    # matching geometry: a link rebuild is safe (stale rows are pruned
    # against the manifest); new geometry on the LATEST version is safe
    # because its chain resets to []
    write_bloom_index(spark, table, "tag", version=1)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    for probe_id in (100, 300):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 4


def test_index_compaction_keeps_recorded_geometry(spark, table, monkeypatch):
    """The compaction rebuild (chain > the limit) must rebuild with the
    index's RECORDED (m_bits, k), not the defaults — silently resetting
    a tuned index's geometry at every compaction would raise the
    false-positive rate ~(tuned/default)x and quietly stop pruning."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _usable_index_params,
        maintain_bloom_index,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)  # tuned v1
    write_version(spark, _tagged_batch(spark, 200, 400), table, mode="append")
    p2 = _usable_index_params(table, "tag", 2)
    # the append increment inherited the tuned geometry and chained v1
    assert (p2["m_bits"], p2["k"], p2["chain"]) == (1 << 12, 2, [1])

    # force compaction: the chain would be [1] > a limit of 0
    monkeypatch.setattr(versioned, "_INDEX_MAX_CHAIN", 0)
    maintain_bloom_index(
        spark, table, "tag", version=2, new_files=[], prior_version=1
    )
    p2c = _usable_index_params(table, "tag", 2)
    assert (p2c["m_bits"], p2c["k"], p2c["chain"]) == (1 << 12, 2, [])
    for probe_id in (100, 300):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 4


def test_vacuum_sweeps_orphaned_chain_link_dirs(spark, table):
    """A link dir preserved through an earlier vacuum outlives its
    manifest; once compaction resets the chain nothing references it,
    and a manifest-driven walk would never revisit it — the full sweep
    must reclaim it (one leaked dir per pre-compaction version on a
    continuous ingest stream otherwise)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        _bloom_index_dir,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag")
    for lo in (200, 400):
        write_version(
            spark, _tagged_batch(spark, lo, lo + 200), table, mode="append"
        )
    vacuum(table, keep_last=2)  # drops v1's manifest; its dir is a live link
    assert os.path.isdir(_bloom_index_dir(table, "tag", 1))

    write_bloom_index(spark, table, "tag")  # compact latest: v3 chain -> []
    write_version(
        spark, _tagged_batch(spark, 600, 800), table, mode="append"
    )  # v4 chains [3]
    stats = vacuum(table, keep_last=2)  # retains v3+v4, drops v2
    # BOTH v2's dir and v1's previously-orphaned link dir are reclaimed
    assert stats["indexes_dropped"] == 2
    assert not os.path.isdir(_bloom_index_dir(table, "tag", 1))
    assert not os.path.isdir(_bloom_index_dir(table, "tag", 2))
    for probe_id in (100, 700):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 8


def test_empty_increment_frame_matches_built_index_schema(spark, table):
    """The zero-new-files maintenance branch writes an empty frame from
    the shared BLOOM_INDEX_SCHEMA constant — it must stay structurally
    identical to build_file_bloom_index's output, or a chained union
    read over mixed dirs infers from an arbitrary file and diverges."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lake import (
        BLOOM_INDEX_SCHEMA,
        build_file_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 100), table)
    built = build_file_bloom_index(spark, __manifest_files(table, 1), "tag")
    empty = spark.createDataFrame([], BLOOM_INDEX_SCHEMA)
    assert [(f.name, f.dataType) for f in built.schema.fields] == [
        (f.name, f.dataType) for f in empty.schema.fields
    ]


def test_merge_into_empty_snapshot_repopulates(spark, table):
    """A files:[] snapshot (delete-all) must accept a merge as a pure
    insert instead of crashing on a zero-path parquet read."""
    import json

    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
    )

    write_version(spark, spark.range(5).withColumn("val", F.col("id")), table)
    with open(os.path.join(table, "_versions", "v00000001.json")) as fh:
        m1 = json.load(fh)
    m2 = dict(m1, files=[], n_rows=0, version=2)
    with open(os.path.join(table, "_versions", "v00000002.json"), "w") as fh:
        json.dump(m2, fh)

    inc = spark.range(3).withColumn("val", (F.col("id") * 7).cast("long"))
    stats = merge_version(spark, inc, table, keys=["id"])
    assert stats["files_rewritten"] == 0 and stats["n_rows"] == 3
    got = {r["id"]: r["val"] for r in read_version(spark, table).collect()}
    assert got == {0: 0, 1: 7, 2: 14}


def test_footer_stats_decimal_outward_and_text_stats_unusable(spark, tmp_path):
    """Decimal statistics keep the OUTWARD one-ulp rounding (Decimal
    compares exactly with float, and float() can round a decimal min
    up); true text statistics are unusable envelopes in non-strict
    mode, not executor crashes."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lake import (
        parquet_footer_stats,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        prune_manifest_files,
    )

    dec = str(tmp_path / "dec.parquet")
    pq.write_table(
        pa.table({"v": pa.array([Decimal("0.10"), Decimal("0.30")],
                                pa.decimal128(10, 2))}),
        dec,
    )
    [row] = parquet_footer_stats(spark, [dec], ["v"]).collect()
    # envelope must CONTAIN the exact decimal bounds
    assert Decimal(str(row["min_val"])) <= Decimal("0.10")
    assert Decimal(str(row["max_val"])) >= Decimal("0.30")
    # a point-range on the exact decimal keeps the file
    assert prune_manifest_files(
        spark, [dec], {"v": (Decimal("0.10"), Decimal("0.10"))}
    ) == [dec]

    txt = str(tmp_path / "txt.parquet")
    pq.write_table(pa.table({"v": pa.array(["apple", "pear"])}), txt)
    [trow] = parquet_footer_stats(spark, [txt], ["v"], strict=False).collect()
    assert trow["min_val"] is None and trow["max_val"] is None
    # conservative keep: unusable envelope never prunes
    assert prune_manifest_files(spark, [txt], {"v": (0, 1)}) == [txt]
    with pytest.raises(Exception, match="non-numeric statistics"):
        parquet_footer_stats(spark, [txt], ["v"], strict=True).collect()


def test_overwrite_inherits_tuned_index_geometry(spark, table):
    """A mode='overwrite' commit (and any other full rebuild) keeps the
    recorded (m_bits, k) — the one commit mode that used to silently
    reset a tuned index to defaults. Re-declaring on the head with
    write_bloom_index re-tunes, and later rebuilds keep the new one."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        index_params,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    p1 = index_params(table, "tag", version=1)
    assert (p1["m_bits"], p1["k"], p1["chain"]) == (1 << 12, 2, [])

    # overwrite: tuned values survive, not defaults
    write_version(
        spark, _tagged_batch(spark, 200, 400), table, mode="overwrite"
    )
    p2 = index_params(table, "tag", version=2)
    assert (p2["m_bits"], p2["k"], p2["chain"]) == (1 << 12, 2, [])

    # the deliberate re-tune, then an overwrite that inherits it
    write_bloom_index(spark, table, "tag", m_bits=1 << 14, k=4)
    write_version(
        spark, _tagged_batch(spark, 400, 600), table, mode="overwrite"
    )
    p3 = index_params(table, "tag", version=3)
    assert (p3["m_bits"], p3["k"], p3["chain"]) == (1 << 14, 4, [])


def test_retune_between_appends_resets_chain(spark, table):
    """Re-declaring a chained index at a new geometry rebuilds the head
    in full (mixed-geometry chains have Bloom false negatives): the
    chain resets, the rebuilt index covers every commit's files, and
    the next append chains onto it at the new geometry."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        index_params,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    write_version(spark, _tagged_batch(spark, 200, 400), table, mode="append")
    assert index_params(table, "tag")["chain"] == [1]
    write_bloom_index(spark, table, "tag", m_bits=1 << 14, k=4)
    p2 = index_params(table, "tag", version=2)
    assert (p2["m_bits"], p2["k"], p2["chain"]) == (1 << 14, 4, [])
    write_version(spark, _tagged_batch(spark, 400, 600), table, mode="append")
    p3 = index_params(table, "tag", version=3)
    assert (p3["m_bits"], p3["k"], p3["chain"]) == (1 << 14, 4, [2])
    # keys from every commit find their rows and still prune
    for probe_id in (100, 300, 500):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 6


def test_pruned_read_degrades_unpruned_when_index_vanishes_mid_probe(
    spark, table, monkeypatch
):
    """The vacuum/reader race: a chain dir can be swept between
    _index_chain_dirs resolving it and the probe reading it. The read
    must degrade to the unpruned file list for that column (the exact
    filter still applies — same rows, more files), never fail; a
    non-missing-path probe error must still propagate."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import lake
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag")
    write_version(spark, _tagged_batch(spark, 200, 400), table, mode="append")

    def gone(*a, **kw):
        raise Exception("[PATH_NOT_FOUND] Path does not exist: _index/...")

    monkeypatch.setattr(lake, "bloom_qualified_files", gone)
    t = (300 * 2654435761) % 100003
    got, info = read_version_pruned(spark, table, keys={"tag": [t]})
    assert sorted(r["id"] for r in got.collect()) == [300]  # correct rows
    assert info["files_read"] == info["files_total"]  # conservative: unpruned

    def broken(*a, **kw):
        raise Exception("java.lang.OutOfMemoryError: not a path problem")

    monkeypatch.setattr(lake, "bloom_qualified_files", broken)
    with pytest.raises(Exception, match="OutOfMemoryError"):
        read_version_pruned(spark, table, keys={"tag": [t]})


def test_index_params_accessor_reports_chain_state(spark, table):
    """index_params: latest-by-default, explicit version, None for a
    version without a usable index, loud on an empty table."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        index_params,
        write_bloom_index,
    )

    with pytest.raises(ValueError, match="no committed versions"):
        index_params(table, "tag")
    write_version(spark, _tagged_batch(spark, 0, 200), table)  # no index
    assert index_params(table, "tag") is None
    write_version(spark, _tagged_batch(spark, 200, 400), table, mode="append")
    write_bloom_index(spark, table, "tag")  # declared at v2: a full build
    p = index_params(table, "tag")
    assert p is not None and p["chain"] == []
    write_version(spark, _tagged_batch(spark, 400, 600), table, mode="append")
    assert index_params(table, "tag")["chain"] == [2]
    assert index_params(table, "tag", version=2)["chain"] == []
    assert index_params(table, "tag", version=1) is None


def test_geometry_inheritance_survives_unindexed_intermediate_commit(
    spark, table
):
    """The one main-line commit that builds no index is a publish (it
    takes no session): its version has no dir, and the walk-back cannot
    cross it (its file set differs). The next main commit must rebuild
    at the geometry recorded BEFORE the publish, not library defaults,
    and later appends chain onto that rebuild."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        create_branch,
        index_params,
        publish_branch,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    create_branch(table, "dev")
    write_version(
        spark, _tagged_batch(spark, 200, 400), table, mode="append", branch="dev"
    )
    assert publish_branch(table, "dev") == 2
    assert index_params(table, "tag", version=2) is None
    write_version(spark, _tagged_batch(spark, 400, 600), table, mode="append")
    p3 = index_params(table, "tag", version=3)
    assert (p3["m_bits"], p3["k"], p3["chain"]) == (1 << 12, 2, [])
    write_version(spark, _tagged_batch(spark, 600, 800), table, mode="append")
    p4 = index_params(table, "tag", version=4)
    assert (p4["m_bits"], p4["k"], p4["chain"]) == (1 << 12, 2, [3])
    for probe_id in (100, 300, 700):
        t = (probe_id * 2654435761) % 100003
        got, info = read_version_pruned(spark, table, keys={"tag": [t]})
        assert sorted(r["id"] for r in got.collect()) == [probe_id]
        assert info["files_read"] < info["files_total"] == 8


def test_empty_snapshot_index_keeps_recorded_geometry(spark, table, monkeypatch):
    """A delete-all (empty snapshot) commit on an indexed table still
    records its geometry with one empty part file: the dir stays
    usable, audits keep answering, and the next commit inherits the
    tuning instead of silently rebuilding at defaults (review finding:
    the empty-manifest branch returned a bare dir with no params)."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        delete_version,
        index_params,
        read_version,
        read_version_pruned,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag", m_bits=1 << 12, k=2)
    # chain would exceed a limit of 0 → the delete compacts via a full
    # rebuild over an EMPTY manifest (every row deleted)
    monkeypatch.setattr(versioned, "_INDEX_MAX_CHAIN", 0)
    delete_version(spark, table, F.lit(True))
    assert read_version(spark, table).count() == 0
    p2 = index_params(table, "tag", version=2)
    assert (p2["m_bits"], p2["k"], p2["chain"]) == (1 << 12, 2, [])
    # probing the empty version prunes to zero files and returns nothing
    t = (100 * 2654435761) % 100003
    got, info = read_version_pruned(spark, table, keys={"tag": [t]})
    assert got.count() == 0 and info["files_read"] == 0
    # the table refills; tuning survived the empty snapshot
    write_version(spark, _tagged_batch(spark, 0, 100), table, mode="append")
    p3 = index_params(table, "tag", version=3)
    assert (p3["m_bits"], p3["k"]) == (1 << 12, 2)


def test_tags_pin_snapshots_and_survive_vacuum(spark, table):
    """Tag lifecycle: immutable named refs (re-create is loud), read by
    name is the pinned snapshot forever, vacuum retains a tagged
    version (manifest + data + index dirs) beyond keep_last, and
    deleting the tag makes it reclaimable on the next vacuum."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        delete_tag,
        read_version,
        read_version_pruned,
        tag_version,
        tags,
        write_bloom_index,
    )

    write_version(spark, _tagged_batch(spark, 0, 200), table)
    write_bloom_index(spark, table, "tag")
    assert tag_version(table, "baseline") == 1
    write_version(spark, _tagged_batch(spark, 200, 400), table)  # v2 overwrite
    write_version(spark, _tagged_batch(spark, 400, 600), table)  # v3 overwrite
    assert tags(table) == {"baseline": 1}

    with pytest.raises(ValueError, match="immutable"):
        tag_version(table, "baseline", version=3)
    with pytest.raises(ValueError, match="tag name must match"):
        tag_version(table, "../escape")
    with pytest.raises(ValueError, match="version OR tag"):
        read_version(spark, table, version=1, tag="baseline")
    with pytest.raises(ValueError, match="not found"):
        read_version(spark, table, tag="nope")

    res = vacuum(table, keep_last=1)
    assert res["versions_dropped"] == 1  # v2 only; v1 is tagged
    live = {v["version"] for v in versions(table)}
    assert live == {1, 3}
    got = read_version(spark, table, tag="baseline")
    assert sorted(r["id"] for r in got.collect()) == list(range(200))
    # the tagged version's at-rest index survived too: pruned read works
    t = (100 * 2654435761) % 100003
    df, info = read_version_pruned(spark, table, version=1, keys={"tag": [t]})
    assert sorted(r["id"] for r in df.collect()) == [100]
    assert info["files_read"] < info["files_total"]

    assert delete_tag(table, "baseline") == 1
    with pytest.raises(ValueError, match="not found"):
        delete_tag(table, "baseline")
    res2 = vacuum(table, keep_last=1)
    assert res2["versions_dropped"] == 1  # v1 now reclaimable
    assert {v["version"] for v in versions(table)} == {3}


def test_append_schema_enforcement_and_evolution(spark, table):
    """Schema-on-write: a divergent append is refused loudly (before
    this, the new column silently VANISHED on read while the manifest
    recorded it); merge_schema=True commits the union schema — prior
    files read NULL for added columns, an increment may omit columns,
    type changes are always refused — and time travel keeps each
    version's own schema."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        read_version,
        read_version_pruned,
    )

    v1 = spark.range(5).select(F.col("id").alias("k"))
    write_version(spark, v1, table)
    evolved = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("extra")
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        write_version(spark, evolved, table, mode="append")
    write_version(spark, evolved, table, mode="append", merge_schema=True)

    latest = read_version(spark, table)
    assert latest.columns == ["k", "extra"]
    rows = {r["k"]: r["extra"] for r in latest.collect()}
    assert all(rows[k] is None for k in range(5))          # carried files: NULL
    assert rows[6] == 12
    # time travel: v1 reads with ITS schema, no phantom column
    assert read_version(spark, table, version=1).columns == ["k"]

    # an increment OMITTING a column is also evolution (reads as NULL)
    write_version(
        spark,
        spark.range(8, 10).select(F.col("id").alias("k")),
        table,
        mode="append",
        merge_schema=True,
    )
    got = {r["k"]: r["extra"] for r in read_version(spark, table).collect()}
    assert got[9] is None and got[7] == 14

    # type changes are refused even with merge_schema=True
    bad = spark.range(3).select(
        F.col("id").alias("k"), F.lit("s").alias("extra")
    )
    with pytest.raises(ValueError, match="type evolution"):
        write_version(spark, bad, table, mode="append", merge_schema=True)

    # the pruned read uses the recorded schema too
    df, info = read_version_pruned(spark, table, ranges={"k": (6, 6)})
    assert df.columns == ["k", "extra"]
    assert [(r["k"], r["extra"]) for r in df.collect()] == [(6, 12)]


def test_cow_merge_delete_preserve_evolved_schema(spark, table):
    """COW merge/delete on an EVOLVED table must scan with the recorded
    union schema: a plain parquet scan would take one footer's schema
    and silently drop the added column from every rewritten row."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        delete_version,
        merge_version,
        read_version,
    )

    write_version(
        spark,
        spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        table,
    )
    write_version(
        spark,
        spark.range(4, 6).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("tagged").alias("extra"),
        ),
        table,
        mode="append",
        merge_schema=True,
    )
    inc = spark.createDataFrame(
        [(1, 111, "upd"), (9, 900, "new")], "k long, v long, extra string"
    )
    merge_version(spark, inc, table, keys=["k"])
    got = {r["k"]: (r["v"], r["extra"]) for r in read_version(spark, table).collect()}
    assert got[1] == (111, "upd") and got[9] == (900, "new")
    assert got[4] == (40, "tagged")      # evolved rows keep their column
    assert got[0] == (0, None)           # carried pre-evolution rows NULL-fill

    delete_version(spark, table, F.col("k") == 0)
    after = {r["k"]: (r["v"], r["extra"]) for r in read_version(spark, table).collect()}
    assert 0 not in after and after[1] == (111, "upd") and after[5] == (50, "tagged")
    assert set(read_version(spark, table).columns) == {"k", "v", "extra"}


def test_merge_schema_enforcement_on_cow_merge(spark, table):
    """merge_version applies the SAME schema-on-write gate as append: a
    divergent increment is refused without merge_schema=True; with it,
    both sides conform to the UNION schema — existing rows KEEP columns
    the increment omits (never narrowed away), incoming rows NULL-fill
    them, and the committed schema stays the union."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        merge_version,
        read_version,
    )

    write_version(
        spark,
        spark.range(4).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("keepme").alias("extra"),
        ),
        table,
    )
    narrow = spark.createDataFrame([(1, 111), (9, 900)], "k long, v long")
    with pytest.raises(ValueError, match="merge_schema=True"):
        merge_version(spark, narrow, table, keys=["k"])
    with pytest.raises(ValueError, match="missing merge key"):
        merge_version(spark, narrow.select("v"), table, keys=["k"])

    merge_version(spark, narrow, table, keys=["k"], merge_schema=True)
    got = {r["k"]: (r["v"], r["extra"]) for r in read_version(spark, table).collect()}
    # updated row: incoming value, NULL-filled omitted column
    assert got[1] == (111, None)
    # UNTOUCHED NEIGHBOR in the rewritten file keeps its evolved column
    assert got[0] == (0, "keepme") and got[3] == (30, "keepme")
    assert got[9] == (900, None)
    assert set(read_version(spark, table).columns) == {"k", "v", "extra"}

    # widening increment: new column via the same gate
    wide = spark.createDataFrame(
        [(2, 222, "w")], "k long, v long, note string"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        merge_version(spark, wide, table, keys=["k"])
    merge_version(spark, wide, table, keys=["k"], merge_schema=True)
    latest = read_version(spark, table)
    assert set(latest.columns) == {"k", "v", "extra", "note"}
    rows = {r["k"]: (r["v"], r["extra"], r["note"]) for r in latest.collect()}
    # merge is ROW-level replacement ("incoming rows beat existing"):
    # the incoming row's NULL-filled 'extra' wins wholesale
    assert rows[2] == (222, None, "w")
    # type change is always refused
    bad = spark.createDataFrame([(3, "oops")], "k long, v string")
    with pytest.raises(ValueError, match="type evolution"):
        merge_version(spark, bad, table, keys=["k"], merge_schema=True)
