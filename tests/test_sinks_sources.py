"""Connector tests (SURVEY.md §7 Phase 2) without external services:

- JDBC upsert (K6) end-to-end against sqlite (a real DBAPI2 engine that
  speaks the same ON CONFLICT dialect as Postgres) — idempotency and
  update-on-conflict asserted.
- REST source (S1) through a fake transport — pagination, quota stop,
  empty-page stop, retry, and the distributed mapInPandas fetcher.
- HuggingFace source (S5) through a fake lister.
- Snowflake bulk-load plan (K5) against a recording executor — statement
  sequence matches the reference semantics.
"""

from __future__ import annotations

import sqlite3

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.jdbc import (
    JdbcUpsertWriter,
    ensure_table_sql,
    upsert_sql,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.snowflake import (
    SnowflakeBulkLoadPlan,
    snowflake_writer_options,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.huggingface import (
    read_top_models,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.rest import (
    FetchPolicy,
    fetch_pages,
    fetch_pages_distributed,
)

# --- K6: JDBC upsert against sqlite ------------------------------------

MODELS_COLS = [
    ("model_id", "VARCHAR(255)"),
    ("author", "VARCHAR(255)"),
    ("pipeline_tag", "VARCHAR(255)"),
    ("last_modified", "TIMESTAMP"),
]


def _sqlite_factory(path: str):
    def factory():
        # executors may write concurrently; sqlite serializes via lock
        return sqlite3.connect(path, timeout=30)

    return factory


def test_upsert_sql_matches_reference_shape():
    sql = upsert_sql("ai_models", ["model_id", "author"], ["model_id"])
    assert sql == (
        "INSERT INTO ai_models (model_id, author) VALUES (%s, %s) "
        "ON CONFLICT (model_id) DO UPDATE SET author = EXCLUDED.author"
    )
    ddl = ensure_table_sql("t", [("a", "INT"), ("b", "TEXT")], primary_key="a")
    assert "CREATE TABLE IF NOT EXISTS t" in ddl and "PRIMARY KEY (a)" in ddl


def test_jdbc_upsert_idempotent_and_updating(spark, tmp_path):
    db = str(tmp_path / "models.db")
    writer = JdbcUpsertWriter(
        _sqlite_factory(db),
        table="ai_models",
        key_cols=["model_id"],
        paramstyle="?",
        ensure_columns=MODELS_COLS,
        batch_size=2,
    )
    schema = "model_id string, author string, pipeline_tag string, last_modified string"
    v1 = spark.createDataFrame(
        [
            ("org/m1", "org", "text-generation", "2026-01-01"),
            ("org/m2", "org", "fill-mask", "2026-01-02"),
            ("acme/m3", "acme", None, "2026-01-03"),
        ],
        schema,
    )
    writer.write(v1, num_partitions=2)
    writer.write(v1, num_partitions=2)  # idempotent: rerun != duplicate
    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM ai_models").fetchone()[0] == 3

    v2 = spark.createDataFrame([("org/m1", "org", "conversational", "2026-02-01")], schema)
    writer.write(v2)
    rows = dict(
        con.execute("SELECT model_id, pipeline_tag FROM ai_models").fetchall()
    )
    assert rows["org/m1"] == "conversational"  # conflict updated
    assert rows["org/m2"] == "fill-mask"  # untouched
    con.close()


def test_jdbc_upsert_converges_under_task_fault(reliable_tier_run):
    """The upsert under a first-attempt task fault (``reliable_tier.py``
    ``jdbc_upserts``, run in the ``local[2,2]`` child): the fault fired,
    and the retried partition re-sends its batches, so the final table
    equals the no-fault upsert: 4 rows updated, 6 inserted."""
    from reliable_tier import MODELS_UPSERT

    rows = reliable_tier_run["rows"]
    assert rows["jdbc_upsert_fault_markers"]
    assert rows["jdbc_upsert"] == sorted(list(r) for r in MODELS_UPSERT)
    assert rows["jdbc_upsert_retried"] == rows["jdbc_upsert"]


def test_upsert_empty_input_is_noop(spark, tmp_path):
    db = str(tmp_path / "empty.db")
    writer = JdbcUpsertWriter(
        _sqlite_factory(db), "t", ["k"], paramstyle="?", ensure_columns=[("k", "INT")]
    )
    empty = spark.createDataFrame([], "k int")
    writer.write(empty)  # K7 guard: no table should even be created
    con = sqlite3.connect(db)
    tables = con.execute("SELECT name FROM sqlite_master WHERE type='table'").fetchall()
    con.close()
    assert tables == []


# --- S4/K3: real JDBC round-trip against embedded Derby -----------------
# (Derby ships in Spark's jars — a genuine df.write.jdbc/spark.read.jdbc
# execution, not an options-only check. Array columns are Postgres-only
# and stay covered by the options test above.)


def test_jdbc_write_read_roundtrip_derby(spark, sf_dir, tmp_path):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.jdbc import (
        jdbc_scan_options,
        read_jdbc_table,
    )

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    nation = read_table(spark, sf_dir, "nation")
    (
        nation.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "nation")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    # plain read-back
    back = read_jdbc_table(
        spark, url=url, dbtable="nation", driver=driver
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    # partition-parallel scan: 4 bounded range queries, same rows
    opts = jdbc_scan_options(
        url, "nation", driver,
        partition_column="n_nationkey", lower_bound=0, upper_bound=24,
        num_partitions=4,
    )
    par = read_jdbc_table(spark, **opts)
    assert par.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, par.collect())) == sorted(map(tuple, nation.collect()))

    # predicate pushdown reaches the remote scan
    filtered = read_jdbc_table(
        spark, url=url, dbtable="nation", driver=driver
    ).filter(F.col("n_regionkey") == 0)
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "n_regionkey" in plan


# --- S1: paginated REST through a fake transport -----------------------


def _make_transport(total: int, quota_at: int | None = None, fail_first: int = 0):
    """Fake API: `total` records, page headers report request count."""
    calls = {"n": 0}

    def transport(offset: int, number: int):
        calls["n"] += 1
        if calls["n"] <= fail_first:
            raise ConnectionError("flaky")
        records = [
            {"id": str(i), "title": f"book {i}"}
            for i in range(offset, min(offset + number, total))
        ]
        headers = {"X-API-Quota-Used": str(quota_at if quota_at else calls["n"])}
        return records, headers

    return transport, calls


def test_fetch_pages_stops_on_empty_page():
    transport, calls = _make_transport(total=250)
    policy = FetchPolicy(page_size=100, inter_page_sleep=0)
    data = fetch_pages(transport, policy, sleep=lambda s: None)
    assert len(data) == 250
    assert [d["id"] for d in data[:3]] == ["0", "1", "2"]  # order-preserving


def test_fetch_pages_stops_on_quota():
    transport, calls = _make_transport(total=100_000, quota_at=50)
    policy = FetchPolicy(page_size=100, inter_page_sleep=0)
    data = fetch_pages(transport, policy, sleep=lambda s: None)
    assert len(data) == 100  # quota header hit on the first response
    assert calls["n"] == 1


def test_fetch_pages_retries_connection_errors():
    transport, calls = _make_transport(total=50, fail_first=2)
    policy = FetchPolicy(page_size=100, inter_page_sleep=0, max_retries=3)
    slept: list[float] = []
    data = fetch_pages(transport, policy, sleep=slept.append)
    assert len(data) == 50
    assert slept[:2] == [2.0, 2.0]  # reference 2 s backoff per retry


def test_fetch_pages_distributed(spark):
    total = 450
    page_size = 100

    def transport(offset: int, number: int):
        records = [
            {"id": i, "title": f"book {i}"}
            for i in range(offset, min(offset + number, total))
        ]
        return records, {}

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("title", T.StringType())]
    )
    df = fetch_pages_distributed(
        spark,
        transport,
        schema,
        n_pages=5,
        policy=FetchPolicy(page_size=page_size),
        num_partitions=3,
    )
    rows = df.collect()
    assert len(rows) == total
    assert sorted(r["id"] for r in rows) == list(range(total))


# --- S5: HuggingFace through a fake lister ------------------------------


def test_read_top_models_fake_lister(spark):
    fakes = [
        {"id": "a/m1", "author": "a", "pipeline_tag": "", "tags": None,
         "lastModified": "2026-01-02 00:00:00"},
        {"id": "b/m2", "author": None, "pipeline_tag": "qa", "tags": ["x"],
         "lastModified": "2026-01-01 00:00:00"},
    ]
    df = read_top_models(spark, limit=2, lister=lambda n: fakes[:n])
    rows = {r["id"]: r for r in df.collect()}
    assert rows["a/m1"]["pipeline_tag"] is None  # falsy "" → null (T9)
    assert rows["a/m1"]["tags"] == []  # None tags → []
    assert rows["b/m2"]["tags"] == ["x"]


# --- K5: Snowflake plan against a recording executor --------------------


def test_snowflake_bulk_load_plan_matches_reference():
    plan = SnowflakeBulkLoadPlan(
        table="books",
        stage="books_stage",
        file_path="/tmp/extract.parquet",
        columns=[("id", "INTEGER"), ("genres", "VARIANT")],
    )
    executed: list[str] = []
    plan.run(executed.append)
    assert executed[0].startswith("CREATE TABLE IF NOT EXISTS books")
    assert executed[1] == "CREATE STAGE IF NOT EXISTS books_stage"
    assert executed[2] == "PUT file:///tmp/extract.parquet @books_stage AUTO_COMPRESS=TRUE"
    copy = executed[3]
    assert "COPY INTO books" in copy
    assert "FILE_FORMAT = (TYPE = PARQUET)" in copy
    assert "ON_ERROR = 'CONTINUE'" in copy
    assert "MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE" in copy


def test_snowflake_writer_options_semantics():
    opts = snowflake_writer_options(
        "acct.snowflakecomputing.com", "u", "db", "s", "wh", "books"
    )
    assert opts["column_mapping"] == "name"
    assert opts["continue_on_error"] == "on"
