"""A versioned commit describes itself from the footers it just wrote.

Row counts and min/max envelopes of a commit's staged files come from
their parquet footers, read on the driver by the same kernel the
distributed ``parquet_footer_stats`` operator runs; the files a DML
touches, and their row counts, come from one aggregation. These tests
pin the resulting Spark-job budget per DML, the kernel's equivalence
with the distributed operator, the folded row counts against a real
read, and the counts' safety under task retries.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lake import (
    footer_kernel,
    parquet_footer_stats,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
    _staged_footers,
    _stats_for_files,
    delete_version,
    enable_column_mapping,
    load_manifest,
    merge_version,
    optimize_table,
    read_version,
    rename_column,
    update_version,
    verify_table,
    write_version,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _rows(spark, lo, hi, tag="x"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.lit(tag).alias("s"),
    )


def _jobs(spark, name, fn, *args, **kwargs) -> tuple[int, set[str]]:
    """Spark jobs ``fn`` launched, counted through a job group, and the
    distinct Python call sites of the actions behind them (``collect at
    versioned.py:<line>``). A write job and the AQE query-stage and
    broadcast jobs of a plan carry JVM call sites, so they add none."""
    sc = spark.sparkContext
    group = f"commit-budget-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group)
    sites = set()
    for j in ids:
        for sid in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(sid)
            if info is not None and ".py:" in info.name:
                action, where = info.name.split(" at ", 1)
                sites.add(f"{action} at {os.path.basename(where)}")
    return len(ids), sites


def _consistent(spark, table):
    m = load_manifest(table, None)
    assert m["n_rows"] == read_version(spark, table).count()
    assert verify_table(spark, table, deep=True)["ok"]
    return m


# --------------------------------------------------------------- job budget


def test_commit_job_budget(spark, table):
    """Jobs per DML on a 4-file, 3k-row table with ``stats_cols``
    (4 shuffle partitions).

    Structure: a commit takes its row count and envelopes from the
    footers it just wrote, so the only Python-side action a DML runs
    is the ONE aggregation that finds its touched files (merge, update,
    COW delete); append, MOR delete and optimize run none. Jobs: the
    minimum is one write job, plus that aggregation's collect, plus
    optimize's range-boundary sample. AQE adds one job per query stage
    and per broadcast (the deletion-vector side of every scan after the
    MOR delete), which depends on runtime sizes. Observed here: append
    1, merge 7 (5 for the aggregation's stages, 2 for the write), MOR
    delete 1, update 5, COW delete 5, optimize 4. Append and MOR delete
    shuffle nothing, so their budget is exact; the others allow two
    more AQE stages.

    Before commits read their own footers, the same sequence launched
    append 6, merge 14, MOR delete 4, update 15, COW delete 15 and
    optimize 10 jobs: a re-read to count the staged rows, a
    distributed footer job (``collect at versioned.py`` in
    ``_stats_for_files``) for their envelopes, a second scan of the
    touched files to count them, and a schema-inference job on every
    deletion-vector read."""
    write_version(
        spark, _rows(spark, 0, 3000).repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    got = {
        "append": _jobs(
            spark, "append", write_version, spark,
            _rows(spark, 3000, 3100, "a"), table, mode="append",
        ),
        "merge": _jobs(
            spark, "merge", merge_version, spark,
            spark.createDataFrame(
                [(i, 9, "m") for i in [*range(10, 40), *range(5000, 5020)]],
                "k long, v long, s string",
            ),
            table, keys=["k"],
        ),
        "delete_mor": _jobs(
            spark, "delete_mor", delete_version, spark, table,
            predicate=F.col("k").isin([1, 2, 3, 2000]), mode="mor",
        ),
        "update": _jobs(
            spark, "update", update_version, spark, table,
            predicate=F.col("k").between(100, 200),
            assignments={"s": F.lit("U")},
        ),
        "delete_cow": _jobs(
            spark, "delete_cow", delete_version, spark, table,
            predicate=F.col("k").between(2500, 2520),
        ),
        "optimize": _jobs(
            spark, "optimize", optimize_table, spark, table,
            cluster_by=["k"], target_file_bytes=16 * 1024,
        ),
    }
    aggregations = {
        k: len(s) for k, (_, s) in got.items()
        if all(x.startswith("collect at versioned.py:") for x in s)
    }
    assert aggregations == {
        "append": 0, "merge": 1, "delete_mor": 0,
        "update": 1, "delete_cow": 1, "optimize": 0,
    }, got
    budget = {
        "append": 1, "merge": 7 + 2, "delete_mor": 1,
        "update": 5 + 2, "delete_cow": 5 + 2, "optimize": 4 + 2,
    }
    assert not {k: n for k, (n, _) in got.items() if n > budget[k]}, got
    m = _consistent(spark, table)
    assert m["n_rows"] == 3000 + 100 + 20 - 4 - 21


# ------------------------------------------------- footer kernel equivalence


def _kernel_rows(files, cols):
    read = footer_kernel(cols, strict=False)
    return sorted((f, *r) for f in files for r in read(f)[1])


def _operator_rows(spark, files, cols):
    return sorted(
        tuple(r)
        for r in parquet_footer_stats(spark, files, cols, strict=False).collect()
    )


def _assert_equivalent(spark, files, cols):
    assert _kernel_rows(files, cols) == _operator_rows(spark, files, cols)
    n, stats = _staged_footers(files, cols)
    assert n == spark.read.parquet(*files).count()
    assert stats == _stats_for_files(spark, files, cols)


def test_footer_kernel_matches_operator(spark, tmp_path):
    big = 2**53
    d = tmp_path / "raw"
    d.mkdir()
    # int64 past 2^53: the envelope rounds OUTWARD on both paths
    pq.write_table(
        pa.table({
            "a": pa.array([big + 1, big + 3, -(big + 5)], pa.int64()),
            "b": pa.array([None, None, None], pa.float64()),
            "r": pa.array(
                [{"avg": 1.5}, {"avg": None}, {"avg": -2.25}],
                pa.struct([("avg", pa.float64())]),
            ),
        }),
        d / "f0.parquet",
        row_group_size=2,
    )
    # an older-schema file that lacks ``b`` and the struct
    pq.write_table(
        pa.table({"a": pa.array([7, 8], pa.int64())}), d / "f1.parquet"
    )
    files = sorted(str(p) for p in d.glob("*.parquet"))
    cols = ["a", "b", "r.avg"]
    rows = _kernel_rows(files, cols)
    f0 = {r[1]: r for r in rows if r[0].endswith("f0.parquet")}
    assert f0["a"][4] < -(big + 5) and f0["a"][5] > big + 3  # outward
    assert f0["b"][2:] == (0, 3, None, None)  # all-NULL: unknown envelope
    assert f0["r.avg"][4:] == (-2.25, 1.5)
    f1 = {r[1]: r for r in rows if r[0].endswith("f1.parquet")}
    assert f1["b"][2:] == (None, None, None, None)  # column absent
    _assert_equivalent(spark, files, cols)


def test_commit_stats_match_operator_under_column_mapping(spark, table):
    """Recorded envelopes of a column-mapped commit are keyed by the
    staged PHYSICAL names and equal the distributed operator's."""
    write_version(
        spark, _rows(spark, 0, 400).repartitionByRange(2, "k"), table,
        stats_cols=["k", "v"],
    )
    enable_column_mapping(table)
    rename_column(table, "k", "key")
    v0 = load_manifest(table, None)
    write_version(
        spark,
        _rows(spark, 400, 600).withColumnRenamed("k", "key").withColumn(
            "extra", F.col("v") * 2
        ),
        table, mode="append", merge_schema=True,
    )
    m = load_manifest(table, None)
    new_files = [f for f in m["files"] if f not in v0["files"]]
    phys = [m["column_mapping"]["fields"][c]["physical"] for c in ("key", "v")]
    assert phys[0] == "k"  # frozen physical name of the renamed column
    _assert_equivalent(spark, new_files, phys)
    assert {f: m["stats"][f] for f in new_files} == _stats_for_files(
        spark, new_files, phys
    )
    _consistent(spark, table)


_PICKLE_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark
from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lake import (
    parquet_footer_stats,
)
spark = get_spark(master="local[1]", shuffle_partitions=1)
rows = parquet_footer_stats(spark, [{path!r}], ["a"]).collect()
print("ROWS", len(rows), rows[0]["min_val"], rows[0]["max_val"])
spark.stop()
"""


def test_footer_kernel_ships_by_value(tmp_path):
    """Executors must not import this package to run the kernel: with
    the driver's cwd outside the repository and the package only on
    the DRIVER's ``sys.path``, a by-reference kernel fails with
    ``ModuleNotFoundError`` on the executor."""
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": pa.array([3, 9], pa.int64())}), path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _PICKLE_PROBE.format(repo=REPO, path=path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 1 3.0 9.0" in out.stdout


# ------------------------------------------------ folded row-count invariants


def test_merge_over_mor_deleted_file_with_directives(spark, table):
    write_version(
        spark, _rows(spark, 0, 400).repartitionByRange(4, "k"), table,
        stats_cols=["k"],
    )
    delete_version(
        spark, table, predicate=F.col("k").isin([5, 6, 7]), mode="mor"
    )
    inc = spark.createDataFrame(
        [
            (5, 1, "re", False),  # MOR-deleted key: re-inserted
            (8, 1, "up", False),  # same file as the DV'd rows: updated
            (9, None, None, True),  # delete directive, present key
            (10_000, None, None, True),  # delete directive, absent key
            (500, 2, "new", False),  # unmatched key: insert
        ],
        "k long, v long, s string, d boolean",
    )
    res = merge_version(spark, inc, table, keys=["k"], delete_col="d")
    m = _consistent(spark, table)
    assert res["n_rows"] == m["n_rows"] == 400 - 3 + 1 - 1 + 1
    assert res["files_rewritten"] == 1
    got = {r["k"]: r["s"] for r in read_version(spark, table).collect()}
    assert (got[5], got[8], got[500]) == ("re", "up", "new")
    assert 6 not in got and 9 not in got and 10_000 not in got


def test_update_with_null_predicate_rows(spark, table):
    df = _rows(spark, 0, 300).withColumn(
        "v", F.when(F.col("k") % 3 == 0, None).otherwise(F.col("v"))
    )
    write_version(
        spark, df.repartitionByRange(3, "k"), table, stats_cols=["k"]
    )
    res = update_version(
        spark, table, predicate=F.col("v") > 3, assignments={"s": F.lit("U")}
    )
    want = read_version(spark, table, version=1).filter("v > 3").count()
    assert res["n_updated"] == want > 0
    m = _consistent(spark, table)
    assert m["n_rows"] == 300
    assert read_version(spark, table).filter("s = 'U'").count() == want


@pytest.mark.parametrize("form", ["column", "sql"])
@pytest.mark.parametrize("op", ["delete", "update"])
def test_cow_dml_refuses_a_nondeterministic_condition(spark, table, op, form):
    """COW delete and update evaluate the condition twice (touched-file
    aggregation, then rewrite), so a nondeterministic one is refused
    before any job runs; MOR evaluates it once and accepts it."""
    pred = F.rand() < 0.5 if form == "column" else "rand() < 0.5"
    write_version(spark, _rows(spark, 0, 300).repartitionByRange(3, "k"), table)
    data_dirs = set(os.listdir(os.path.join(table, "data")))
    dml = {
        "delete": lambda **kw: delete_version(spark, table, predicate=pred, **kw),
        "update": lambda **kw: update_version(
            spark, table, predicate=pred, assignments={"s": F.lit("U")}, **kw
        ),
    }[op]
    refused = []

    def cow():
        try:
            dml()
        except ValueError as exc:
            refused.append(str(exc))

    n_jobs, _ = _jobs(spark, f"cow-{op}-rand", cow)
    assert refused and "deterministic" in refused[0] and "rand(" in refused[0]
    assert n_jobs == 0
    assert load_manifest(table, None)["version"] == 1
    assert set(os.listdir(os.path.join(table, "data"))) == data_dirs
    res = dml(mode="mor")
    m = _consistent(spark, table)
    assert m["version"] == res["version"] == 2
    n = res["n_deleted"] if op == "delete" else res["n_updated"]
    assert 0 < n < 300
    assert m["n_rows"] == (300 - n if op == "delete" else 300)


def test_cow_delete_emptying_a_file_stages_nothing(spark, table):
    write_version(
        spark, _rows(spark, 0, 300).repartitionByRange(3, "k"), table,
        stats_cols=["k"],
    )
    first = load_manifest(table, None)["files"][0]
    ks = [r["k"] for r in spark.read.parquet(first).collect()]
    data_dirs = set(os.listdir(os.path.join(table, "data")))
    res = delete_version(spark, table, predicate=F.col("k").isin(ks))
    assert res["files_rewritten"] == 1 and res["n_deleted"] == len(ks)
    m = _consistent(spark, table)
    assert first not in m["files"] and len(m["files"]) == 2
    assert m["n_rows"] == 300 - len(ks)
    # the zero-row rewrite left no staged directory behind
    assert set(os.listdir(os.path.join(table, "data"))) == data_dirs


# ----------------------------------------------------------- retry safety

_RETRY_DRIVER = """
import glob, json, os, sys
sys.path[:0] = [{repo!r}, {tests!r}]
from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned as V
from faults import flaky_frame, flaky_udf
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

spark = get_spark(master="local[2,2]", shuffle_partitions=2)
table = {table!r}
# partition 0's FIRST attempt writes its rows (flaky_frame) or starts
# evaluating the predicate (flaky_hit), then dies
flaky_hit = flaky_udf(lambda k, m: k % m == 0, BooleanType())


def rows(lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


def report(name, staged_dirs):
    m = V.load_manifest(table, None)
    listed = set(m["files"]) | set(m.get("dv_files") or [])
    on_disk = {{
        os.path.realpath(f)
        for d in staged_dirs
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }}
    print("RESULT " + json.dumps({{
        "op": name,
        "n_rows": m["n_rows"],
        "read": V.read_version(spark, table).count(),
        "unlisted": sorted(on_disk - listed),
        "staged": len(on_disk),
        "verify": V.verify_table(spark, table, deep=True)["ok"],
    }}), flush=True)


def new_dirs(sub, before):
    root = os.path.join(table, sub)
    return [os.path.join(root, d) for d in set(os.listdir(root)) - before]


def dirs(sub):
    root = os.path.join(table, sub)
    return set(os.listdir(root)) if os.path.isdir(root) else set()


V.write_version(spark, rows(0, 400).repartitionByRange(2, "k"), table,
                stats_cols=["k"])
b = dirs("data")
V.write_version(spark, flaky_frame(rows(400, 600)), table, mode="append")
report("append", new_dirs("data", b))
b = dirs("data")
V.merge_version(spark, flaky_frame(rows(350, 450)), table, keys=["k"])
report("merge", new_dirs("data", b))
b = dirs("_dv")
V.delete_version(spark, table, predicate=flaky_hit(F.col("k"), F.lit(50)),
                 mode="mor")
report("delete_mor", new_dirs("_dv", b))
b = dirs("data")
V.update_version(spark, table, predicate=flaky_hit(F.col("k"), F.lit(7)),
                 assignments={{"v": F.lit(-1)}})
report("update_cow", new_dirs("data", b))
b = dirs("data")
V.delete_version(spark, table, predicate=flaky_hit(F.col("k"), F.lit(11)))
report("delete_cow", new_dirs("data", b))
spark.stop()
"""


def test_footer_counts_survive_task_retries(tmp_path):
    """A failed first attempt of partition 0 (after writing its rows)
    must not leak into the footer-derived counts: only committed
    attempts' files exist in the staging dir the footers are read
    from. The COW update and delete fail the first attempt of both
    their touched-files aggregation and their rewrite."""
    table = str(tmp_path / "tbl")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(
            _RETRY_DRIVER.format(
                repo=REPO, tests=os.path.join(REPO, "tests"), table=table
            )
        )],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "injected first-attempt failure" in out.stderr  # retries ran
    res = {
        r["op"]: r
        for r in (
            json.loads(line[len("RESULT "):])
            for line in out.stdout.splitlines()
            if line.startswith("RESULT ")
        )
    }
    assert set(res) == {
        "append", "merge", "delete_mor", "update_cow", "delete_cow"
    }
    for op, r in res.items():
        assert r["n_rows"] == r["read"], (op, r)
        assert r["unlisted"] == [] and r["staged"] > 0, (op, r)
        assert r["verify"] is True, (op, r)
    assert res["append"]["n_rows"] == 600
    assert res["merge"]["n_rows"] == 600
    assert res["delete_mor"]["n_rows"] == 600 - 12
    assert res["update_cow"]["n_rows"] == 600 - 12
    # k % 11 == 0 in [0, 600): 55 keys, 2 of them (0, 550) already gone
    assert res["delete_cow"]["n_rows"] == 600 - 12 - 53
