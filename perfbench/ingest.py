"""``ingest_dml``: seeded simulated days of the reference's three DAGs
plus one versioned-lake DML round each. The only workload that writes:
commit cost, read cost and space trade against each other here.

One day:

- P1 ``books_pipeline``: 5,000 books through a fake paged transport
  (the reference's 50-request quota, no inter-page sleep). Ids overlap
  earlier days and about 5% of ratings do not parse. Loaded by JDBC
  append into embedded Derby, standing in for Postgres ``books``.
- P2 ``warehouse_sync``: Derby → staging parquet → the Snowflake
  stage+COPY plan run against a recording executor.
- P3 ``models_pipeline``: 50 listings with duplicate and empty ids,
  upserted into sqlite through ``JdbcUpsertWriter``.
- Lake round on ``orders``, keyed on the unique ``o_orderkey``: merge of
  an update+insert increment, merge-on-read delete of a key trickle,
  update of a key range, append, pruned point-range read, full
  scan-aggregate.

A pass is one day followed by ``optimize_table``,
``verify_table(deep=True)`` and ``vacuum``, so each day's reads see the
layout one day of merge-on-read deletes and small appends leaves on a
table compacted the day before. Every expected result is
derived from the inputs the benchmark generated, so the checks hold for
any seed.
"""

from __future__ import annotations

import functools
import json
import os
import sqlite3
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa

import corpus
from workloads import Workload

PAGES, PAGE_SIZE = 50, 100
LISTINGS = 50
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
MERGE_UPDATES, MERGE_INSERTS, DELETES, UPDATE_SPAN, APPENDS, READ_SPAN = 200, 100, 20, 100, 100, 50
DML_COUNTS = ("files_rewritten", "files_carried", "files_scanned")  # summed over a pass
STREAMS = {"books": 1, "models": 2, "orders": 3}
GENRES = ["fantasy", "history", "science", "poetry", "mystery", "travel"]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). With ten samples or fewer no
    such percentile exists and the maximum is returned as percentile
    100."""
    n = len(samples)
    xs = sorted(samples)
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 11  # ten samples lie above index k
    return xs[k], round(100.0 * (k + 1) / n, 1), n


class Ingest(Workload):
    name = "ingest_dml"

    def prepare(self) -> bool:
        sf = corpus.SMOKE_SF if self.run.smoke else corpus.BASE_SF
        self.base_dir, marker = corpus.ensure_base(self.run.cache_dir, sf)
        self.run.record["corpus"] = marker
        return bool(marker.get("built"))

    # -- inputs ---------------------------------------------------------

    def _rng(self, day: int, stream: str) -> np.random.Generator:
        return np.random.default_rng([self.run.seed, day, STREAMS[stream]])

    def _books(self, day: int) -> tuple[list[dict], int]:
        rng = self._rng(day, "books")
        n = self.pages * PAGE_SIZE
        ids = rng.integers(0, 4 * n, n)
        bad = rng.random(n) < 0.05
        recs = []
        for i, (bid, is_bad) in enumerate(zip(ids.tolist(), bad.tolist())):
            n_auth = int(rng.integers(1, 4))
            recs.append({
                "id": str(bid),
                "title": f"Book {bid} day {day}",
                "image": f"https://img.example/{bid}.jpg" if i % 3 else None,
                "subtitle": "a subtitle" if i % 7 == 0 else None,
                "authors": [{"id": int(a), "name": f"Author {a}"} for a in rng.integers(0, 500, n_auth)],
                "genres": list(rng.choice(GENRES, int(rng.integers(1, 3)), replace=False)),
                "rating": {"average": "n/a" if is_bad else f"{rng.random():.2f}"},
            })
        return recs, int(bad.sum())

    def _listings(self, day: int) -> list[dict]:
        rng = self._rng(day, "models")
        out = []
        for k in rng.integers(0, 200, LISTINGS).tolist():
            out.append({
                "id": "" if k % 37 == 0 else f"org{k % 7}/model-{k}",
                "author": f"org{k % 7}" if k % 5 else "",
                "pipeline_tag": ["text-generation", "fill-mask", None][k % 3],
                "tags": [f"t{k % 4}"],
                "lastModified": f"2026-01-{1 + int(rng.integers(0, 28)):02d} {int(rng.integers(0, 24)):02d}:00:00",
            })
        return out

    def _orders_frame(self, keys: list[int], status: str, rng) -> pd.DataFrame:
        n = len(keys)
        return pd.DataFrame({
            "o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": rng.integers(0, 1500, n).astype(np.int64),
            "o_orderstatus": [status] * n,
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": (np.datetime64("2001-08-01", "D") + rng.integers(0, 365, n)).astype("datetime64[us]"),
            "o_orderpriority": rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"], n),
        })

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.jdbc import JdbcUpsertWriter
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

        spark = self.run.spark
        self.pages = 5 if self.run.smoke else PAGES
        self.root = os.path.join(self.run.run_dir, "ingest")
        os.makedirs(self.root)
        self.derby_url = f"jdbc:derby:{self.root}/derby;create=true"
        self.sqlite_path = os.path.join(self.root, "models.db")
        self.table = os.path.join(self.root, "lake", "orders")
        self.writer = JdbcUpsertWriter(
            functools.partial(sqlite3.connect, self.sqlite_path, timeout=30),
            table="ai_models",
            key_cols=["model_id"],
            paramstyle="?",
            ensure_columns=[
                ("model_id", "VARCHAR(255)"), ("author", "VARCHAR(255)"),
                ("pipeline_tag", "VARCHAR(255)"), ("tags", "TEXT"), ("last_modified", "TIMESTAMP"),
            ],
        )
        self.day = 0
        self.derby_rows = 0
        self.model_ids: set[str] = set()
        self.commits: list[float] = []  # latencies in timed passes
        self.reads: list[float] = []
        self.dag_days: list[float] = []
        self.pending: list[tuple[int, object, int, int]] = []  # silver checks
        self.pass_stats: dict[int, dict] = {}

        orders = read_table(spark, self.base_dir, "orders")
        self.live = dict(orders.select("o_orderkey", "o_orderstatus").toPandas().itertuples(index=False))
        self.next_key = max(self.live) + 1
        versioned.write_version(
            spark, orders.repartitionByRange(8, F.col("o_orderkey")), self.table,
            mode="overwrite", stats_cols=["o_orderkey"],
        )
        self.run.record["ingest"] = {"books_per_day": self.pages * PAGE_SIZE}

    # -- one day --------------------------------------------------------

    def _timed(self, samples: list[float], fn, *args, **kwargs):
        """Call ``fn``; in a timed pass, append its latency to ``samples``."""
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        if self.run.pass_index >= 0:
            samples.append(time.perf_counter() - t0)
        return out

    def _commit(self, fn, *args, **kwargs):
        return self._timed(self.commits, fn, *args, **kwargs)

    def _read(self, fn, *args, **kwargs):
        return self._timed(self.reads, fn, *args, **kwargs)

    def _derby_load(self, silver) -> None:
        from pyspark.sql import functions as F

        flat = silver.select(
            "id", "title", "image", F.to_json("genres").alias("genres"), "rating",
            F.to_json("author_id").alias("author_id"), F.to_json("author_name").alias("author_name"),
        )
        self._commit(flat.write.jdbc, self.derby_url, "books", mode="append", properties={"driver": DERBY})

    def _p1(self, day: int) -> None:
        from bigbookapi_etl_with_airflow_and_snowflake_spark.plans import pipelines
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.rest import FetchPolicy

        records, n_bad = self._books(day)
        calls = [0]

        def transport(offset: int, number: int):
            calls[0] += 1
            page = [[r] for r in records[offset:offset + number]]
            return page, {"X-API-Quota-Used": str(calls[0])}

        silver = self.run.op(
            "books_pipeline", pipelines.books_pipeline, self.run.spark,
            raw_json_path=os.path.join(self.root, f"bronze-{day}.json"),
            silver_parquet_path=os.path.join(self.root, f"silver-{day}"),
            load=self._derby_load, transport=transport,
            policy=FetchPolicy(page_size=PAGE_SIZE, max_requests=self.pages, inter_page_sleep=0),
        )
        if silver is not None:
            self.derby_rows += len(records)
            self.pending.append((day, silver, len(records), n_bad))

    def _p2(self, day: int) -> None:
        from bigbookapi_etl_with_airflow_and_snowflake_spark.plans import pipelines
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.snowflake import SnowflakeBulkLoadPlan
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.jdbc import read_jdbc_table

        stage = os.path.join(self.root, f"stage-{day}")
        plan = SnowflakeBulkLoadPlan(table="BOOKS", stage="BOOKS_STAGE", file_path=stage,
                                     columns=[("ID", "NUMBER"), ("TITLE", "VARCHAR")])
        executed: list[str] = []
        n = self.run.op(
            "warehouse_sync", pipelines.warehouse_sync,
            extract=lambda: read_jdbc_table(self.run.spark, url=self.derby_url, dbtable="books", driver=DERBY),
            staging_parquet_path=stage,
            load=lambda df: plan.run(executed.append),
        )
        if n is not None:
            self.run.check(f"day {day} warehouse rows", n, self.derby_rows)
            self.run.check(f"day {day} snowflake statements", len(executed), len(plan.statements()))

    def _p3(self, day: int) -> None:
        from pyspark.sql import functions as F

        from bigbookapi_etl_with_airflow_and_snowflake_spark.plans import pipelines

        listings = self._listings(day)

        def upsert(df) -> None:
            flat = df.withColumn("tags", F.to_json("tags")).withColumn(
                "last_modified", F.col("last_modified").cast("string"))
            self._commit(self.writer.write, flat)

        out = self.run.op("models_pipeline", pipelines.models_pipeline, self.run.spark,
                          lister=lambda n: listings[:n], limit=LISTINGS, upsert=upsert)
        if out is not None:
            self.model_ids.update(m["id"] for m in listings if m["id"])

    def _lake_round(self, day: int) -> None:
        from pyspark.sql import functions as F

        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned

        spark, run = self.run.spark, self.run
        rng = self._rng(day, "orders")
        stats = self.pass_stats.setdefault(run.pass_index, Counter())
        keys = np.fromiter(self.live, dtype=np.int64)
        hot = keys[keys >= np.quantile(keys, 0.8)]

        upd = rng.choice(hot, MERGE_UPDATES, replace=False).tolist()
        ins = list(range(self.next_key, self.next_key + MERGE_INSERTS))
        incoming = pd.concat([self._orders_frame(upd, "M", rng), self._orders_frame(ins, "I", rng)])
        stats["incoming_bytes"] += pa.Table.from_pandas(incoming).nbytes
        res = run.op("merge_version", self._commit, versioned.merge_version, spark,
                     spark.createDataFrame(incoming), self.table, keys=["o_orderkey"])
        if res is not None:
            self.live.update({k: "M" for k in upd})
            self.live.update({k: "I" for k in ins})
            self.next_key += MERGE_INSERTS
            stats.update({k: res.get(k, 0) for k in DML_COUNTS})

        gone = rng.choice(np.fromiter(self.live, dtype=np.int64), DELETES, replace=False).tolist()
        res = run.op("delete_version", self._commit, versioned.delete_version, spark, self.table,
                     predicate=F.col("o_orderkey").isin(gone), mode="mor")
        if res is not None:
            for k in gone:
                del self.live[k]
            stats.update({k: res.get(k, 0) for k in DML_COUNTS})

        lo = int(rng.integers(0, self.next_key - UPDATE_SPAN))
        hi = lo + UPDATE_SPAN - 1
        res = run.op("update_version", self._commit, versioned.update_version, spark, self.table,
                     predicate=F.col("o_orderkey").between(lo, hi),
                     assignments={"o_orderstatus": F.lit("U")})
        if res is not None:
            self.live.update({k: "U" for k in range(lo, hi + 1) if k in self.live})
            stats.update({k: res.get(k, 0) for k in DML_COUNTS})

        new = list(range(self.next_key, self.next_key + APPENDS))
        appended = self._orders_frame(new, "A", rng)
        stats["incoming_bytes"] += pa.Table.from_pandas(appended).nbytes
        if run.op("append", self._commit, versioned.write_version, spark, spark.createDataFrame(appended),
                  self.table, mode="append", stats_cols=["o_orderkey"]) is not None:
            self.live.update({k: "A" for k in new})
            self.next_key += APPENDS

        lo = int(rng.integers(0, self.next_key - READ_SPAN))
        hi = lo + READ_SPAN - 1

        def pruned() -> int:
            df, _ = versioned.read_version_pruned(spark, self.table, ranges={"o_orderkey": (lo, hi)})
            return df.count()

        n = run.op("read_pruned", self._read, pruned)
        if n is not None:
            run.check(f"day {day} pruned read rows", n, sum(1 for k in range(lo, hi + 1) if k in self.live))

        def scan() -> dict:
            rows = versioned.read_version(spark, self.table).groupBy("o_orderstatus").count().collect()
            return {r["o_orderstatus"]: r["count"] for r in rows}

        by_status = run.op("read_scan", self._read, scan)
        if by_status is not None:
            run.check(f"day {day} orders by status", by_status, dict(Counter(self.live.values())))

    def _maintenance(self) -> None:
        """One operation: optimize, deep verify, vacuum. (A vacuum alone
        takes a few CPU ticks, too few to time as an operation.)"""
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import versioned

        spark, run = self.run.spark, self.run
        stats = self.pass_stats.setdefault(run.pass_index, Counter())
        m = self._head_manifest()  # the layout the day's reads saw
        stats["head_files"] = len(m["files"])
        stats["dv_files"] = len(m.get("dv_files") or [])

        def maintain() -> None:
            self._commit(versioned.optimize_table, spark, self.table,
                         cluster_by=["o_orderkey"], target_file_bytes=64 * 1024)
            stats["bytes_before_vacuum"] = _dir_bytes(self.table)
            res = versioned.verify_table(spark, self.table, deep=True)
            run.check("verify_table(deep=True) ok", res.get("ok"), True)
            self._commit(versioned.vacuum, self.table, keep_last=2)

        run.op("maintenance", maintain)

    def _run_day(self) -> None:
        day = self.day
        self.day += 1
        t0 = time.perf_counter()
        self._p1(day)
        self._p2(day)
        self._p3(day)
        if self.run.pass_index >= 0:
            self.dag_days.append(time.perf_counter() - t0)
        self._lake_round(day)
        self._maintenance()

    def warmup(self) -> None:
        self.bytes_at_pass_start = _dir_bytes(self.table)
        self._run_day()
        self.after_pass(-1)

    def run_pass(self, pass_index: int) -> None:
        self._run_day()

    # -- checks and per-layer values ------------------------------------

    def _head_manifest(self) -> dict:
        vdir = os.path.join(self.table, "_versions")
        head = max(f for f in os.listdir(vdir) if f.startswith("v") and f.endswith(".json"))
        with open(os.path.join(vdir, head)) as fh:
            return json.load(fh)

    def after_pass(self, pass_index: int) -> None:
        """Untimed: outputs of the DAG days, and the lake's space use."""
        from pyspark.sql import functions as F

        from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.jdbc import read_jdbc_table

        run = self.run
        for day, silver, n, n_bad in self.pending:
            run.check(f"day {day} silver rows", silver.count(), n)
            run.check(f"day {day} unparsed ratings", silver.filter(F.col("rating").isNull()).count(), n_bad)
        self.pending.clear()
        derby = read_jdbc_table(run.spark, url=self.derby_url, dbtable="books", driver=DERBY).count()
        run.check("derby books rows", derby, self.derby_rows)
        con = sqlite3.connect(self.sqlite_path)
        try:
            distinct = con.execute("SELECT COUNT(DISTINCT model_id) FROM ai_models").fetchone()[0]
        finally:
            con.close()
        run.check("sqlite distinct model_id", distinct, len(self.model_ids))

        stats = self.pass_stats.setdefault(pass_index, Counter())
        m = self._head_manifest()
        head_bytes = sum(os.path.getsize(os.path.join(self.table, f)) for f in m["files"])
        after_vacuum = _dir_bytes(self.table)
        stats["space_amp"] = after_vacuum / head_bytes
        stats["write_amp"] = (stats["bytes_before_vacuum"] - self.bytes_at_pass_start) / stats["incoming_bytes"]
        self.bytes_at_pass_start = after_vacuum

    def tracing_targets(self) -> list[tuple[object, str, str]]:
        from bigbookapi_etl_with_airflow_and_snowflake_spark.plans import pipelines
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks import files, jdbc, versioned
        from bigbookapi_etl_with_airflow_and_snowflake_spark.sources import rest

        out = [(pipelines, f, f"plans.pipelines.{f}") for f in ("books_pipeline", "warehouse_sync", "models_pipeline")]
        out += [
            (rest, "fetch_pages", "sources.rest.fetch_pages"),
            (files, "write_parquet", "sinks.files.write_parquet"),
            (jdbc.JdbcUpsertWriter, "write", "sinks.jdbc.JdbcUpsertWriter.write"),
        ]
        out += [(versioned, f, f"sinks.versioned.{f}") for f in (
            "write_version", "merge_version", "delete_version", "update_version", "optimize_table",
            "verify_table", "vacuum", "read_version_pruned", "read_version",
        )]
        return out

    def layer_values(self, pass_index: int) -> dict[str, float]:
        out = super().layer_values(pass_index)
        s = self.pass_stats.get(pass_index, {})
        for k in (*DML_COUNTS, "head_files", "dv_files", "write_amp"):
            out[f"sinks.versioned.{k}"] = float(s.get(k, 0))
        return out

    def finish(self) -> None:
        run = self.run
        value, pct, n = tail(self.commits)
        run.layer.update({
            "ingest.dag_day_s": statistics.median(self.dag_days),
            "ingest.commit_p50_s": statistics.median(self.commits),
            "ingest.commit_tail_s": value,
            "ingest.read_p50_s": statistics.median(self.reads),
            "ingest.space_amp": statistics.median(
                s["space_amp"] for p, s in self.pass_stats.items() if p >= 0 and "space_amp" in s
            ),
        })
        run.record["ingest"].update(commit_tail_pct=pct, commit_samples=n, days=self.day)
