"""Micro-benchmark: member-pair expansion strategies at 100x, from
MATERIALIZED inputs (groups + verified rep pairs), isolating the
expansion itself from the upstream aggregations.

A: current shape — rep_pairs ⋈ ga ⋈ gb then two Generates (explode)
B: join fanout — rep_pairs ⋈ mem_a ⋈ mem_b (exploded-once mem table,
   broadcast hash joins fan out the pairs in codegen join machinery)
C: within via union-self-pairs + explode (jaccard's shape)
D: within via mem self-join (current shape)
Run: python plans/r15/_micro_expand.py [corpus] [passes]
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
    spark = get_spark(app_name="r15-micro-expand")
    docs = read_table(spark, corpus, "documents")
    bands, max_hamming, bits = 4, 3, 32
    width = bits // bands

    sig = neardup.portable_simhash(docs, "text", "doc_id", bits)
    groups = neardup.materialize(
        sig.groupBy("simhash_bits").agg(
            F.min("doc_id").alias("__rep"),
            F.sort_array(F.collect_list("doc_id")).alias("__members"),
        )
    )
    reps = groups.select(F.col("__rep").alias("doc_id"), "simhash_bits")
    banded = reps.select(
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
    cand = neardup._bucket_pairs(banded, "band_key", "doc_id").distinct()
    a = reps.select(F.col("doc_id").alias("id_a"), F.col("simhash_bits").alias("__sa"))
    b = reps.select(F.col("doc_id").alias("id_b"), F.col("simhash_bits").alias("__sb"))
    hamming = F.aggregate(
        F.zip_with(
            F.split("__sa", ""),
            F.split("__sb", ""),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    rep_pairs = neardup.materialize(
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    n_rp = rep_pairs.count()
    n_g = groups.count()
    print(f"rep_pairs={n_rp} groups={n_g}", flush=True)

    ga = groups.select(F.col("__rep").alias("id_a"), F.col("__members").alias("__ma"))
    gb = groups.select(F.col("__rep").alias("id_b"), F.col("__members").alias("__mb"))
    mem = groups.select(F.col("__rep"), F.explode("__members").alias("__m"))

    def exp_a():
        return (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select(F.explode("__ma").alias("__x"), "__mb", "hamming")
            .select("__x", F.explode("__mb").alias("__y"), "hamming")
            .select(
                F.least("__x", "__y").alias("id_a"),
                F.greatest("__x", "__y").alias("id_b"),
                "hamming",
            )
        )

    def exp_b():
        ma = mem.select(F.col("__rep").alias("id_a"), F.col("__m").alias("__x"))
        mb = mem.select(F.col("__rep").alias("id_b"), F.col("__m").alias("__y"))
        return (
            rep_pairs.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("__x", "__y").alias("id_a"),
                F.greatest("__x", "__y").alias("id_b"),
                "hamming",
            )
        )

    def within_c():
        rep_self = groups.filter(F.size("__members") > 1).select(
            F.col("__rep").alias("id_a"),
            F.col("__rep").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
        return (
            rep_self.join(ga, "id_a")
            .join(gb, "id_b")
            .select("id_a", "id_b", F.explode("__ma").alias("__x"), "__mb", "hamming")
            .select("id_a", "id_b", "__x", F.explode("__mb").alias("__y"), "hamming")
            .filter(F.col("__x") < F.col("__y"))
            .select(
                F.col("__x").alias("id_a"), F.col("__y").alias("id_b"), "hamming"
            )
        )

    def within_d():
        m2 = groups.filter(F.size("__members") >= 2).select(
            F.col("__rep"), F.explode("__members").alias("__m")
        )
        return (
            m2.alias("x")
            .join(m2.alias("y"), "__rep")
            .filter(F.col("x.__m") < F.col("y.__m"))
            .select(
                F.col("x.__m").alias("id_a"),
                F.col("y.__m").alias("id_b"),
                F.lit(0).cast("long").alias("hamming"),
            )
        )

    run_stages(
        spark,
        [
            ("A_cross_explode", exp_a),
            ("B_cross_joinfan", exp_b),
            ("C_within_explode", within_c),
            ("D_within_selfjoin", within_d),
        ],
        passes,
    )
    # sanity: A and B produce identical pair multisets
    ca = exp_a().groupBy("id_a", "id_b", "hamming").count()
    cb = exp_b().groupBy("id_a", "id_b", "hamming").count()
    diff = ca.join(cb, ["id_a", "id_b", "hamming", "count"], "full_outer").count()
    na, nb = ca.count(), cb.count()
    print("A distinct:", na, "B distinct:", nb, "outer:", diff)
    cc = within_c().groupBy("id_a", "id_b").count()
    cd = within_d().groupBy("id_a", "id_b").count()
    nd = cc.join(cd, ["id_a", "id_b", "count"], "full_outer").count()
    print("C distinct:", cc.count(), "D distinct:", cd.count(), "outer:", nd)
    spark.stop()


if __name__ == "__main__":
    main()
