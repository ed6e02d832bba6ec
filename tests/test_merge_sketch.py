"""Tests: idempotent parquet merge sink; sketch error bounds vs exact."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sketch import (
    approx_distinct,
    approx_quantiles,
)
from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.merge import merge_parquet
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table


# --- merge sink ---------------------------------------------------------


def test_merge_creates_then_updates(spark, tmp_path):
    path = str(tmp_path / "models")
    v1 = spark.createDataFrame(
        [("m1", "a", "2026-01-01"), ("m2", "b", "2026-01-02")],
        "model_id string, author string, updated string",
    )
    assert merge_parquet(spark, v1, path, ["model_id"]) == 2

    # overlapping key: incoming wins; new key: appended
    v2 = spark.createDataFrame(
        [("m1", "a2", "2026-02-01"), ("m3", "c", "2026-02-02")],
        "model_id string, author string, updated string",
    )
    assert merge_parquet(spark, v2, path, ["model_id"]) == 3
    rows = {r["model_id"]: r["author"] for r in spark.read.parquet(path).collect()}
    assert rows == {"m1": "a2", "m2": "b", "m3": "c"}


def test_merge_rerun_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "books")
    df = read_table(spark, "/root/testdata/sf0.001", "nation")
    n1 = merge_parquet(spark, df, path, ["n_nationkey"])
    n2 = merge_parquet(spark, df, path, ["n_nationkey"])  # the rerun case
    assert n1 == n2 == 25
    assert spark.read.parquet(path).count() == 25


def test_merge_recency_ordering(spark, tmp_path):
    path = str(tmp_path / "hist")
    old = spark.createDataFrame(
        [("k", 1, "2026-01-05")], "id string, v long, ts string"
    )
    merge_parquet(spark, old, path, ["id"])
    # an incoming row OLDER than the stored one must lose under a
    # recency ordering
    stale = spark.createDataFrame(
        [("k", 99, "2026-01-01")], "id string, v long, ts string"
    )
    merge_parquet(spark, stale, path, ["id"], order_by=[F.desc("ts")])
    assert spark.read.parquet(path).first()["v"] == 1


# --- sketches -----------------------------------------------------------


def test_approx_distinct_error_bound(spark, sf_dir):
    e = read_table(spark, sf_dir, "events")
    got = approx_distinct(e, "user_id", rsd=0.02).first()["approx_distinct"]
    exact = e.select("user_id").distinct().count()
    assert abs(got - exact) / exact <= 0.06  # 3×rsd


def test_approx_distinct_grouped(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    got = {
        r["o_orderstatus"]: r["approx_distinct"]
        for r in approx_distinct(o, "o_custkey", ["o_orderstatus"], rsd=0.02).collect()
    }
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert abs(got[k] - exact[k]) / max(exact[k], 1) <= 0.06


def test_approx_quantiles_rank_error(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    got = approx_quantiles(li, "l_extendedprice", (0.5,), accuracy=10_000).first()["q50"]
    # rank of the sketch's answer must be within 1/accuracy of the true rank
    n = li.count()
    rank = li.filter(F.col("l_extendedprice") <= got).count()
    assert abs(rank / n - 0.5) <= 0.01


def test_approx_quantiles_grouped_shape(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    out = approx_quantiles(li, "l_quantity", (0.25, 0.5, 0.75), group_by=["l_returnflag"])
    rows = out.collect()
    assert {c for c in out.columns} == {"l_returnflag", "q25", "q50", "q75"}
    for r in rows:
        assert r["q25"] <= r["q50"] <= r["q75"]


def test_heavy_hitters_exact_when_capacity_covers_domain(spark):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sketch import (
        heavy_hitters,
    )

    rows = [(f"w{i % 7}",) for i in range(700)] + [("rare",)] * 3
    df = spark.createDataFrame(rows, ["v"]).repartition(8)
    got = heavy_hitters(df, "v", k=8, capacity=1000).collect()
    assert [r["item"] for r in got] == [f"w{i}" for i in range(7)] + ["rare"]
    assert all(r["max_undercount"] == 0 for r in got)
    assert got[0]["est_count"] == 100 and got[-1]["est_count"] == 3


def test_heavy_hitters_misra_gries_bound_under_compression(spark):
    """capacity << domain: every estimate must obey
    est <= true <= est + max_undercount, and items rarer than the bound
    may vanish but the dominant item must survive."""
    import random

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sketch import (
        heavy_hitters,
    )

    rng = random.Random(7)
    vals = ["dominant"] * 3000 + [f"noise{rng.randrange(500)}" for _ in range(3000)]
    rng.shuffle(vals)
    true = {}
    for v in vals:
        true[v] = true.get(v, 0) + 1
    df = spark.createDataFrame([(v,) for v in vals], ["v"]).repartition(4)
    got = heavy_hitters(df, "v", k=5, capacity=50).collect()
    assert got[0]["item"] == "dominant"
    bound = got[0]["max_undercount"]
    assert bound > 0  # compression actually fired
    for r in got:
        assert r["est_count"] <= true[r["item"]] <= r["est_count"] + bound

    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(df, "v", k=0)


def test_scd2_merge_history_semantics(spark, tmp_path):
    """Type-2 merge: change → close + reopen; no change → untouched
    (incl. a same-batch rerun = idempotent); NULL→value counts as a
    change (null-safe comparison); new keys open at the batch ts."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.merge import scd2_merge

    path = str(tmp_path / "dim")
    keys, tracked = ["k"], ["seg", "score"]
    b1 = spark.createDataFrame([(1, "A", 10), (2, "B", 20), (3, None, 30)], ["k", "seg", "score"])
    assert scd2_merge(spark, b1, path, keys, tracked, "t1") == 3
    # rerun of the identical batch must be a no-op
    assert scd2_merge(spark, b1, path, keys, tracked, "t1b") == 3
    b2 = spark.createDataFrame(
        [(1, "A", 10), (2, "C", 20), (3, "X", 30), (4, "D", 40)], ["k", "seg", "score"]
    )
    assert scd2_merge(spark, b2, path, keys, tracked, "t2") == 6
    rows = {
        (r["k"], r["valid_from"]): (r["seg"], r["score"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(path).collect()
    }
    assert rows[(1, "t1")] == ("A", 10, None, True)          # unchanged
    assert rows[(2, "t1")] == ("B", 20, "t2", False)         # closed
    assert rows[(2, "t2")] == ("C", 20, None, True)          # reopened
    assert rows[(3, "t1")] == (None, 30, "t2", False)        # NULL -> X closed
    assert rows[(3, "t2")] == ("X", 30, None, True)
    assert rows[(4, "t2")] == ("D", 40, None, True)          # new key
    # closed history rows never rejoin: a third batch touching key 2
    # leaves the (2, t1) row bit-identical
    b3 = spark.createDataFrame([(2, "C", 25)], ["k", "seg", "score"])
    assert scd2_merge(spark, b3, path, keys, tracked, "t3") == 7
    rows3 = {
        (r["k"], r["valid_from"]): (r["seg"], r["score"], r["valid_to"], r["is_current"])
        for r in spark.read.parquet(path).collect()
    }
    assert rows3[(2, "t1")] == ("B", 20, "t2", False)
    assert rows3[(2, "t2")] == ("C", 20, "t3", False)
    assert rows3[(2, "t3")] == ("C", 25, None, True)
    # keys absent from b3 pass through untouched
    assert rows3[(1, "t1")] == ("A", 10, None, True)


def test_heavy_hitters_split_matches_jvm_explode(spark):
    """Round-15 lock: split-inside-kernel (split=" ") must equal the
    JVM explode(split(...)) feed exactly — including NULL rows (no
    items) and empty strings (one "" item)."""
    from pyspark.sql import functions as F

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sketch import (
        heavy_hitters,
    )

    rows = [
        ("the quick brown fox",),
        ("the lazy dog",),
        ("the the the",),
        ("",),          # one empty-string item
        (None,),        # no items
        ("  double  spaced",),  # empty items between double spaces
    ]
    df = spark.createDataFrame(rows, ["text"]).repartition(3)
    via_jvm = heavy_hitters(
        df.select(F.explode(F.split("text", " ")).alias("w")), "w", k=50,
        capacity=1000,
    ).collect()
    via_split = heavy_hitters(df, "text", k=50, capacity=1000, split=" ").collect()
    assert [tuple(r) for r in via_jvm] == [tuple(r) for r in via_split]
    assert any(r["item"] == "" for r in via_split)  # "" items preserved


@pytest.mark.parametrize("delim", [".", "|", ".|"])
def test_heavy_hitters_split_is_literal(spark, delim):
    """``split`` is a literal delimiter (Python ``str.split``), not a
    regex: ``"."``, ``"|"`` and ``".|"`` split on those characters
    only. Items ordered (count desc, item asc)."""
    from collections import Counter

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sketch import (
        heavy_hitters,
    )

    rows = [
        f"a{delim}b{delim}a",
        f"b{delim}{delim}c",  # adjacent delimiters: one "" item
        f"{delim}a",  # leading delimiter: one "" item
        "a.b|c",  # both characters, a literal ".|" absent
        "",
        None,
    ]
    df = spark.createDataFrame([(r,) for r in rows], ["text"]).repartition(3)
    got = heavy_hitters(df, "text", k=50, capacity=1000, split=delim).collect()
    want = Counter(w for r in rows if r is not None for w in r.split(delim))
    assert [(r["item"], r["est_count"]) for r in got] == sorted(
        want.items(), key=lambda kv: (-kv[1], kv[0])
    )
    assert all(r["max_undercount"] == 0 for r in got)
