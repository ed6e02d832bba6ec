"""jaccard_pairs stage decomposition at 100x + verify-kernel A/B
(VERDICT r14 item 2).

Part 1: cumulative noop timings of each pipeline stage on the 100x
corpus. NOTE the replicated corpus collapses identical docs into
groups, so the candidate/verify volume does NOT scale with the
multiplier — only collapse + member expansion do. Part 2 therefore
scales the VERIFY stage synthetically: the candidate set is replicated
REP_FACTOR times (arrays re-attached per copy) so the per-pair
intersection kernel runs at millions-of-pairs volume, and three exact
implementations race on identical input:
  a) JVM array_intersect (current)
  b) mapInArrow sorted-merge/np.intersect1d kernel
  c) explode + equi-join + count (all-JVM hash-join machinery)
Run: python plans/r15/_decomp_jaccard.py [corpus_dir] [passes] [rep_factor]
"""

from __future__ import annotations

import os
import sys
from typing import Iterator

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from _stage_decomp import run_stages
from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup
from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

THRESHOLD = 0.5


def build_pre(spark, corpus):
    """Reproduce jaccard_pairs' internals up to the materialized groups
    table (same code path: call the operator's own pieces)."""
    docs_df = read_table(spark, corpus, "documents")
    sh = neardup.shingle_table(docs_df, "text", "doc_id", 3)
    hashed = sh.select("doc_id", F.xxhash64("shingle").alias("__h"))
    with_df = hashed.withColumn(
        "__df", F.count("*").over(W.partitionBy("__h")).cast("int")
    )
    docs = (
        with_df.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("__df", "__h"))).alias("__s"))
        .select(
            F.col("doc_id"),
            F.col("__s"),
            F.transform("__s", lambda s: s["__h"]).alias("__sh"),
            F.size("__s").alias("n_sh"),
        )
    )
    groups = neardup.materialize(
        docs.groupBy("__sh").agg(
            F.min("doc_id").alias("__rep"),
            F.sort_array(F.collect_list("doc_id")).alias("__members"),
            F.first("__s").alias("__s"),
            F.first("n_sh").alias("n_sh"),
        )
    )
    return hashed, with_df, docs, groups


def cand_of(groups):
    t_dec = neardup._threshold_dec(THRESHOLD)
    prefix_len = (
        F.col("n_sh") - F.ceil(t_dec * F.col("n_sh")).cast("int") + F.lit(1)
    )
    prefix = (
        groups.select(
            F.col("__rep"),
            F.col("n_sh"),
            F.posexplode(F.slice("__s", F.lit(1), prefix_len)).alias(
                "__pos", "__st"
            ),
        )
        .filter(F.col("__st.__df") >= 2)
        .select("__rep", "n_sh", "__pos", F.col("__st.__h").alias("__h"))
    )
    one_plus_t = t_dec + F.lit(1)
    pa = prefix.select(
        F.col("__rep").alias("ra"), F.col("n_sh").alias("__na"),
        F.col("__pos").alias("__pa"), "__h",
    )
    pb = prefix.select(
        F.col("__rep").alias("rb"), F.col("n_sh").alias("__nb"),
        F.col("__pos").alias("__pb"), "__h",
    )
    return (
        pa.join(pb, ["__h"])
        .filter(
            (F.col("ra") < F.col("rb"))
            & (F.greatest("__na", "__nb") * t_dec <= F.least("__na", "__nb"))
            & (
                F.least(F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb"))
                * one_plus_t
                >= (F.col("__na") + F.col("__nb")) * t_dec
            )
        )
        .select("ra", "rb")
        .distinct()
    )


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale_sf100"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    rep_factor = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    spark = get_spark(app_name="r15-jaccard-decomp")

    def full():
        return neardup.jaccard_pairs(
            read_table(spark, corpus, "documents"), threshold=THRESHOLD
        )

    def verify_jvm(cand, rep_docs):
        a = rep_docs.select(
            F.col("__rep").alias("ra"), F.col("__sh").alias("__sh_a"),
            F.col("n_sh").alias("n_a"),
        )
        b = rep_docs.select(
            F.col("__rep").alias("rb"), F.col("__sh").alias("__sh_b"),
            F.col("n_sh").alias("n_b"),
        )
        n_inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
        return (
            cand.join(a, "ra")
            .join(b, "rb")
            .select(
                "ra", "rb",
                (
                    n_inter.cast("double")
                    / (F.col("n_a") + F.col("n_b") - n_inter)
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= THRESHOLD)
        )

    def verify_arrow(cand, rep_docs):
        """Exact intersection sizes in an Arrow kernel: arrays arrive as
        numpy int64; np.intersect1d(assume_unique=True) is a C sort-merge."""
        import numpy as np
        import pyarrow as pa

        a = rep_docs.select(
            F.col("__rep").alias("ra"), F.col("__sh").alias("__sh_a"),
            F.col("n_sh").alias("n_a"),
        )
        b = rep_docs.select(
            F.col("__rep").alias("rb"), F.col("__sh").alias("__sh_b"),
            F.col("n_sh").alias("n_b"),
        )
        joined = cand.join(a, "ra").join(b, "rb").select(
            "ra", "rb", "n_a", "n_b", "__sh_a", "__sh_b"
        )

        def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                ra = batch.column(0)
                rb = batch.column(1)
                n_a = batch.column(2).to_numpy(zero_copy_only=False)
                n_b = batch.column(3).to_numpy(zero_copy_only=False)
                sha = batch.column(4).to_pylist()
                shb = batch.column(5).to_pylist()
                inter = np.fromiter(
                    (
                        len(np.intersect1d(np.asarray(x, dtype=np.int64),
                                           np.asarray(y, dtype=np.int64),
                                           assume_unique=True))
                        for x, y in zip(sha, shb)
                    ),
                    dtype=np.int64,
                    count=len(sha),
                )
                jac = inter / (n_a + n_b - inter)
                yield pa.RecordBatch.from_arrays(
                    [ra, rb, pa.array(jac, type=pa.float64())],
                    names=["ra", "rb", "jaccard"],
                )

        return joined.mapInArrow(
            kernel, schema="ra long, rb long, jaccard double"
        ).filter(F.col("jaccard") >= THRESHOLD)

    def verify_joincount(cand, rep_docs, groups):
        """All-JVM alternative: |A∩B| via explode + hash equi-join +
        count, instead of per-pair interpreted array_intersect."""
        sh_flat = groups.select(
            F.col("__rep").alias("rb"), F.explode("__sh").alias("__h")
        )
        a_arr = rep_docs.select(
            F.col("__rep").alias("ra"), F.col("__sh").alias("__sh_a"),
            F.col("n_sh").alias("n_a"),
        )
        nb = rep_docs.select(F.col("__rep").alias("rb"), F.col("n_sh").alias("n_b"))
        probe = (
            cand.join(a_arr, "ra")
            .select("ra", "rb", "n_a", F.explode("__sh_a").alias("__h"))
        )
        inter = (
            probe.join(sh_flat, ["rb", "__h"])
            .groupBy("ra", "rb", "n_a")
            .agg(F.count("*").alias("n_i"))
        )
        return (
            inter.join(nb, "rb")
            .select(
                "ra", "rb",
                (
                    F.col("n_i").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_i"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= THRESHOLD)
        )

    hashed, with_df, docs, groups = build_pre(spark, corpus)
    cand = neardup.materialize(cand_of(groups))
    n_cand = cand.count()
    print(f"candidates (collapsed reps): {n_cand}", flush=True)

    rep_docs = groups.select("__rep", "__sh", "n_sh")

    # Part 1 — pipeline decomposition (cumulative where meaningful)
    stages = [
        ("1_shingle_hash", lambda: hashed),
        ("2_+window_df", lambda: with_df),
        ("3_+docs_agg", lambda: docs),
        ("4_cand_join_distinct", lambda: cand_of(groups)),
        ("5_verify_jvm", lambda: verify_jvm(cand, rep_docs)),
        ("6_full_query", full),
    ]
    run_stages(spark, stages, passes)

    # Part 2 — verify kernels at synthetic scale: replicate candidates
    # REP_FACTOR x (disjoint id spaces per copy via offset) so the
    # kernel does rep_factor * n_cand intersections of REAL arrays.
    off = F.lit(10_000_000)
    cand_big = neardup.materialize(
        cand.select(
            "ra", "rb", F.explode(F.sequence(F.lit(0), F.lit(rep_factor - 1))).alias("__c")
        ).select(
            (F.col("ra") + F.col("__c") * off).alias("ra"),
            (F.col("rb") + F.col("__c") * off).alias("rb"),
            F.col("ra").alias("ra0"),
            F.col("rb").alias("rb0"),
        )
    )
    rep_big = neardup.materialize(
        rep_docs.select(
            "__rep", "__sh", "n_sh",
            F.explode(F.sequence(F.lit(0), F.lit(rep_factor - 1))).alias("__c"),
        ).select(
            (F.col("__rep") + F.col("__c") * off).alias("__rep"), "__sh", "n_sh"
        )
    )
    groups_big = rep_big.withColumnRenamed("n_sh", "n_sh")  # same cols needed
    cand_big2 = cand_big.select("ra", "rb")
    print(f"verify A/B input: {n_cand * rep_factor} pairs", flush=True)
    stages2 = [
        ("v_jvm_array_intersect", lambda: verify_jvm(cand_big2, rep_big)),
        ("v_arrow_intersect1d", lambda: verify_arrow(cand_big2, rep_big)),
        ("v_join_count", lambda: verify_joincount(cand_big2, rep_big, rep_big)),
    ]
    run_stages(spark, stages2, passes)

    # correctness cross-check on the real candidate set
    import pandas as _pd  # noqa: F401

    jvm = {
        (r["ra"], r["rb"]): round(r["jaccard"], 12)
        for r in verify_jvm(cand, rep_docs).collect()
    }
    arw = {
        (r["ra"], r["rb"]): round(r["jaccard"], 12)
        for r in verify_arrow(cand, rep_docs).collect()
    }
    jc = {
        (r["ra"], r["rb"]): round(r["jaccard"], 12)
        for r in verify_joincount(cand, rep_docs, groups).collect()
    }
    assert jvm == arw, f"arrow mismatch: {len(jvm)} vs {len(arw)}"
    assert jvm == jc, f"join-count mismatch: {len(jvm)} vs {len(jc)}"
    print(f"all three verify impls identical: {len(jvm)} qualifying rep pairs")
    spark.stop()


if __name__ == "__main__":
    main()
