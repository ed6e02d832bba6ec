"""simhash_pairs stage decomposition at 100x (VERDICT r14 item 3).

Cumulative noop-sink timings for each stage of the pipeline so the
dominant stage is identified with numbers, not attribution. Run:
    python plans/r15/_decomp_simhash.py [corpus_dir] [passes]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from _stage_decomp import run_stages
from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup
from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table


def main() -> None:
    corpus = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale_sf100"
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="r15-simhash-decomp")
    docs = lambda: read_table(spark, corpus, "documents")  # noqa: E731

    bands, max_hamming, bits = 4, 3, 32
    width = bits // bands

    def sig():
        return neardup.materialize(
            neardup.portable_simhash(docs(), "text", "doc_id", bits)
        )

    def groups_of(s):
        return s.groupBy("simhash_bits").agg(
            F.min("doc_id").alias("__rep"),
            F.sort_array(F.collect_list("doc_id")).alias("__members"),
        )

    def reps_of(g):
        return g.select(F.col("__rep").alias("doc_id"), "simhash_bits")

    def banded_of(r):
        return r.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            F.substring("simhash_bits", b * width + 1, width),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_key"),
        )

    def cand_of(r):
        return neardup._bucket_pairs(banded_of(r), "band_key", "doc_id").distinct()

    def rep_pairs_of(s):
        g = groups_of(s)
        r = reps_of(g)
        cand = cand_of(r)
        a = r.select(F.col("doc_id").alias("id_a"), F.col("simhash_bits").alias("__sa"))
        b = r.select(F.col("doc_id").alias("id_b"), F.col("simhash_bits").alias("__sb"))
        hamming = F.aggregate(
            F.zip_with(
                F.split("__sa", ""),
                F.split("__sb", ""),
                lambda x, y: F.when(x != y, 1).otherwise(0),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
        )

    def cross_only():
        s = sig()
        g = groups_of(s)
        rp = rep_pairs_of(s)
        ga = g.select(F.col("__rep").alias("id_a"), F.col("__members").alias("__ma"))
        gb = g.select(F.col("__rep").alias("id_b"), F.col("__members").alias("__mb"))
        return (
            rp.join(ga, "id_a")
            .join(gb, "id_b")
            .select(F.explode("__ma").alias("__x"), F.col("__mb"), F.col("hamming"))
            .select(F.col("__x"), F.explode("__mb").alias("__y"), F.col("hamming"))
            .select(
                F.least("__x", "__y").alias("id_a"),
                F.greatest("__x", "__y").alias("id_b"),
                "hamming",
            )
        )

    def within_only():
        s = sig()
        g = groups_of(s)
        mem = g.filter(F.size("__members") >= 2).select(
            F.col("__rep"), F.explode("__members").alias("__m")
        )
        return (
            mem.alias("x")
            .join(mem.alias("y"), "__rep")
            .filter(F.col("x.__m") < F.col("y.__m"))
            .select(
                F.col("x.__m").alias("id_a"),
                F.col("y.__m").alias("id_b"),
                F.lit(0).cast("long").alias("hamming"),
            )
        )

    stages = [
        ("1_signature+materialize", lambda: sig()),
        ("2_+groups", lambda: groups_of(sig())),
        ("3_+cand", lambda: cand_of(reps_of(groups_of(sig())))),
        ("4_+rep_pairs_verified", lambda: rep_pairs_of(sig())),
        ("5_cross_expansion", cross_only),
        ("6_within_selfjoin", within_only),
        ("7_full_query", lambda: neardup.simhash_pairs(docs())),
    ]
    run_stages(spark, stages, passes)
    spark.stop()


if __name__ == "__main__":
    main()
