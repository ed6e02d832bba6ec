"""The session's codegen cache holds a curation pass's working set.

Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
default 100) is an LRU over the generated Java sources. One pass of the
seven curation queries below generates more distinct sources than 100,
so at the default every pass evicts what the next pass needs and
recompiles it with Janino. ``session.get_spark`` sizes the cache so a
repeated pass compiles almost nothing.
"""

from __future__ import annotations

from bigbookapi_etl_with_airflow_and_snowflake_spark.queries import queries

# perfbench's curation_x10 query set (perfbench/workloads.py)
CURATION_QUERIES = [
    "jaccard_pairs",
    "minhash_band_pairs",
    "embedding_neardup",
    "semantic_dedup_scaled",
    "heavy_hitter_words",
    "lm_quality",
    "decontaminate",
]

# A few sources embed values that change between runs of the same query
# and are recompiled on every pass (a day of perfbench's ingest_dml
# workload recompiles 8 such sources each pass however large the cache
# is). At Spark's default size a repeated curation pass recompiled
# 123-172 sources, so 10 leaves room for those while still failing an
# undersized cache by an order of magnitude.
SECOND_PASS_MAX_COMPILATIONS = 10


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (one histogram sample
    per generated source compiled, i.e. per codegen cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM-wide codegen cache, so the first pass compiles its
    whole working set whatever earlier tests left there. The cache is a
    private field of ``CodeGenerator``; reflection is the only way in."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getField("MODULE$").get(None)).invalidateAll()


def test_repeated_curation_pass_compiles_almost_nothing(spark, sf_dir):
    registry = queries()

    def one_pass() -> int:
        before = _compilations(spark)
        for name in CURATION_QUERIES:
            registry[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return _compilations(spark) - before

    _clear_codegen_cache(spark)
    first, second = one_pass(), one_pass()
    # the working set exceeds Spark's default of 100 entries, so this
    # test fails when the session keeps the default
    assert first > 100, first
    assert second <= SECOND_PASS_MAX_COMPILATIONS, (first, second)
