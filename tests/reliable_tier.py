"""The reliable materialization tier, chosen by configuration.

``session.materialize`` takes its tier from the session: a session
built with ``spark.checkpoint.dir`` pins every materialization point
with the reliable ``checkpoint(eager=True)``, and one without it uses
``localCheckpoint(eager=True)``. A checkpoint directory cannot be unset
on a running session, and setting one on the shared pytest session
would move every later test to the reliable tier, so the reliable side
runs in a child process: this module run as a script. The child builds
its own session with the checkpoint directory and master ``local[2,2]``
(task retries on), computes ``cases`` below and the JDBC upsert with and
without a task fault (``jdbc_upserts``), and writes their rows as
JSON. Tests compare them with the same cases on the shared
(executor-local tier) session; the ``reliable_tier_run`` fixture in
``conftest.py`` runs the child once per test session.

Run the child by hand with
``python tests/reliable_tier.py <ckpt_dir> <fault_dir> <sf_dir> <out.json>``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),
    (3, "a completely different document about spark query planning"),
    (4, "the quick brown fox jumps over the lazy cat again and again"),
]
PAIRS = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
MODEL_COLS = [("model_id", "TEXT"), ("pipeline_tag", "TEXT")]
MODELS_BEFORE = [(f"org/m{i}", "old") for i in range(4)]
MODELS_UPSERT = [(f"org/m{i}", f"tag{i % 3}") for i in range(10)]


def rows(df) -> list[list[str]]:
    return sorted([str(v) for v in r] for r in df.collect())


def cases(spark, sf: str) -> dict[str, list[list[str]]]:
    """Every operator with a materialization point that used to take a
    per-call tier argument, plus two registry entries: one that pins its
    result before deleting its scratch dir, and one near-dup query."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.dedup import (
        connected_components,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.similarity import (
        semantic_dedup,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.queries import (
        q_jaccard_pairs,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.queries_ops import (
        q_rollup_refresh,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import (
        read_table,
    )

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = spark.createDataFrame(PAIRS, ["id_a", "id_b"])
    return {
        "jaccard_pairs": rows(neardup.jaccard_pairs(docs, threshold=0.3)),
        "simhash_pairs": rows(neardup.simhash_pairs(docs)),
        "connected_components": rows(connected_components(pairs)),
        "semantic_dedup": rows(
            semantic_dedup(
                read_table(spark, sf, "embeddings"), k=8, iters=0, threshold=0.4
            )
        ),
        "q_rollup_refresh": rows(q_rollup_refresh(spark, sf)),
        "q_jaccard_pairs": rows(q_jaccard_pairs(spark, sf)),
    }


def _sqlite_factory(db: str):
    def connect():
        import sqlite3

        return sqlite3.connect(db, timeout=60)

    return connect


def jdbc_upserts(spark, work: str, marker_dir: str) -> dict:
    """The P3 upsert (``sinks.jdbc.JdbcUpsertWriter``, ``batch_size=2``)
    of 10 models over a sqlite table holding 4 of them, once plainly and
    once through ``faults.flaky_frame``: partition 0's first attempt
    fails after producing all of its rows, so that attempt never
    commits, and the retry sends the partition again. Returns each
    final table's rows and the fault markers."""
    import sqlite3

    from faults import flaky_frame

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.jdbc import (
        JdbcUpsertWriter,
    )

    os.makedirs(marker_dir, exist_ok=True)
    schema = "model_id string, pipeline_tag string"
    before = spark.createDataFrame(MODELS_BEFORE, schema)
    upsert = spark.createDataFrame(MODELS_UPSERT, schema)
    res = {}
    for name, frame in (
        ("jdbc_upsert", upsert.repartition(2)),
        ("jdbc_upsert_retried", flaky_frame(upsert, marker_dir)),
    ):
        db = os.path.join(work, f"{name}.db")
        writer = JdbcUpsertWriter(
            _sqlite_factory(db), table="ai_models", key_cols=["model_id"],
            batch_size=2, paramstyle="?", ensure_columns=MODEL_COLS,
        )
        writer.write(before)
        writer.write(frame)
        con = sqlite3.connect(db)
        res[name] = sorted(
            list(r) for r in con.execute("SELECT * FROM ai_models").fetchall()
        )
        con.close()
    res["jdbc_upsert_fault_markers"] = sorted(os.listdir(marker_dir))
    return res


def _child(ckpt: str, fault_dir: str, sf: str, out: str) -> None:
    from faults import flaky_udf
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    from bigbookapi_etl_with_airflow_and_snowflake_spark import queries
    from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark

    spark = get_spark(
        app_name="checkpoint-tier",
        master="local[2,2]",
        shuffle_partitions=2,
        extra_conf={"spark.checkpoint.dir": ckpt},
    )
    assert spark.sparkContext.getCheckpointDir(), "spark.checkpoint.dir not applied"

    def no_local(*_a, **_k):
        raise AssertionError("executor-local pin on a reliable-tier session")

    DataFrame.localCheckpoint = no_local
    res = cases(spark, sf)

    # A fault that fails the first attempt of partition 0 of every stage
    # that scans the documents table; the retry must give the same rows.
    fault = flaky_udf(lambda _doc_id: True, "boolean", marker_dir=fault_dir)
    read = queries._t
    queries._t = lambda spark, sf, name, **kw: read(spark, sf, name, **kw).filter(
        fault(F.col("doc_id"))
    )
    try:
        res["q_jaccard_pairs_retried"] = rows(queries.q_jaccard_pairs(spark, sf))
    finally:
        queries._t = read
    work = os.path.dirname(os.path.abspath(out))
    res.update(jdbc_upserts(spark, work, os.path.join(work, "jdbc_faults")))
    with open(out, "w") as fh:
        json.dump(res, fh)
    spark.stop()


def run_child(work_dir, sf_dir: str) -> dict:
    """Run the child under ``work_dir``; return its rows by case name,
    the checkpoint dir and the fault-marker dir."""
    ckpt, fault_dir = work_dir / "ckpt", work_dir / "faults"
    fault_dir.mkdir()
    out = work_dir / "reliable.json"
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(ckpt), str(fault_dir),
         sf_dir, str(out)],
        env=env, cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return {"rows": json.loads(out.read_text()), "ckpt": ckpt, "fault_dir": fault_dir}


def checkpoint_files(ckpt) -> list[str]:
    """The reliable checkpoint part files written under ``ckpt``."""
    return [f for _, _, fs in os.walk(ckpt) for f in fs if f.startswith("part-")]


if __name__ == "__main__":
    _child(*sys.argv[1:5])
