"""Plan-shape assertions: lock the physical-plan properties that matter
at 100 TB — filters reach the parquet scan, small dimensions broadcast,
shuffle counts stay minimal, top-k avoids a full sort.

These tests fail when a refactor silently degrades the plan (e.g. a
broadcast join flips to sort-merge), independent of result correctness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark import queries as Q
from bigbookapi_etl_with_airflow_and_snowflake_spark.plans.introspect import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    shuffle_count,
)


def test_scan_filter_pushdown(spark, sf_dir):
    df = Q.q_scan_filter_project(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    plan = explain_str(df, "formatted")
    # column pruning: the 16-col lineitem scan must read only what's used
    assert "ReadSchema" in plan and "l_comment" not in plan


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = Q.q_region_revenue(spark, sf_dir)
    assert has_broadcast_join(df)
    plan = explain_str(df, "simple")
    # the dim chain must NOT shuffle the lineitem fact for the dim join;
    # shuffles allowed: orders⋈lineitem, customer join, final groupBy
    assert plan.count("SortMergeJoin") <= 2


def test_shipping_priority_broadcasts(spark, sf_dir):
    df = Q.q_shipping_priority(spark, sf_dir)
    assert has_broadcast_join(df)


def test_topk_uses_take_ordered(spark, sf_dir):
    df = Q.q_topk_recent_events(spark, sf_dir)
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_groupby_has_partial_aggregation(spark, sf_dir):
    df = Q.q_pricing_summary(spark, sf_dir)
    plan = explain_str(df, "formatted")
    # map-side partial agg before the exchange halves the shuffle volume
    assert "partial" in plan.lower()
    assert shuffle_count(df) == 1  # one shuffle: the groupBy keys


def test_heavy_hitter_words_runs_kernel_once(spark, sf_dir):
    """The Misra-Gries kernel runs once: the top-k items and the
    undercount bound come from ONE aggregation of the partition
    summaries, not from two branches that each rerun the kernel."""
    plan = explain_str(Q.q_heavy_hitter_words(spark, sf_dir), "simple")
    assert plan.count("MapInPandas") == 1, plan


def test_pricing_summary_codegen(spark, sf_dir):
    plan = explain_str(Q.q_pricing_summary(spark, sf_dir), "codegen")
    assert "WholeStageCodegen" in plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    df = Q.q_cosine_topk(spark, sf_dir)
    # the candidate (big) side must never shuffle for the scoring join
    assert has_broadcast_join(df)


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Date-partitioned storage → a date-filtered scan touches only its
    partition directories (the 100 TB layout: without pruning, every
    query reads the whole corpus)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.files import write_parquet
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

    events = read_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_parquet(events, path, partition_by=["day"])

    one_day = events.select("day").distinct().orderBy("day").first()["day"]
    scan = spark.read.parquet(path).filter(F.col("day") == F.lit(one_day))
    plan = explain_str(scan, "formatted")
    assert "PartitionFilters" in plan and "day" in plan
    # pruned row count equals that day's rows
    assert scan.count() == events.filter(F.col("day") == F.lit(one_day)).count()


def test_part_name_editdist_is_equi_join(spark, sf_dir):
    """The length-band candidate join must be a hash/sort-merge equi
    join on the exploded band key — a pure non-equi predicate would plan
    as BroadcastNestedLoopJoin (O(n²) comparisons, fatal at corpus
    scale)."""
    df = Q.q_part_name_editdist(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_embedding_neardup_no_nested_loop(spark, sf_dir):
    df = Q.q_embedding_neardup(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_jaccard_pairs_candidate_plan(spark, sf_dir):
    """jaccard_pairs' candidate generation must stay an equi join on the
    shingle hash (inverted index), never a nested-loop over doc pairs,
    and the lineage-truncating checkpoint must cap the number of
    exchanges (round-1 form re-ran the shingle pipeline 28×)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.neardup import (
        jaccard_pairs,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import (
        read_table,
    )

    df = jaccard_pairs(read_table(spark, sf_dir, "documents"))
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # upstream is checkpointed; the remaining plan holds only the
    # candidate-distinct exchange (joins below the AQE threshold
    # broadcast, larger corpora may legitimately shuffle-join)
    assert shuffle_count(df) <= 4


def test_global_shuffle_no_single_partition_sort(spark, sf_dir):
    """global_shuffle must rank shard-parallel: a naive global
    ROW_NUMBER would plan an Exchange SinglePartition that serializes
    the corpus through one task."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.queries_ext import (
        q_global_shuffle,
    )

    plan = explain_str(q_global_shuffle(spark, sf_dir), "simple")
    # the corpus-side rank must be shard-partitioned…
    assert "hashpartitioning(shard" in plan
    # …and the only single-partition stage is the offsets cumsum over
    # the ≤16-row per-shard size table (bounded, not corpus-scaled)
    assert plan.count("SinglePartition") <= 1
    assert "row_number() windowspecdefinition(shard" in plan


def test_incremental_dedup_materialized_bands_and_equi_join(spark, sf_dir):
    """Round 14: signatures are the fused array-expression map (no
    aggregate at all — the old form's partial_min/SortAggregate pair is
    gone), materialized ONCE before feeding both join sides (a pure map
    has no exchange for the self-join to reuse); the batch-vs-corpus
    probe must stay an equi join on the band key."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.queries_ext import (
        q_incremental_dedup,
    )

    plan = explain_str(q_incremental_dedup(spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in plan  # the materialized band table
    assert "partial_min" not in plan and "SortAggregate" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_exact_single_shuffle_key(spark, sf_dir):
    df = Q.q_dedup_exact_docs(spark, sf_dir)
    # groupBy(fp) + semi-join back share the fingerprint shuffle key
    assert shuffle_count(df) <= 3


def test_kmeans_assignment_is_narrow_no_shuffle(spark, sf_dir):
    """Centroid assignment is a broadcast-literal map: the whole
    assignment stage must contain ZERO exchanges — the property that
    makes per-iteration cost one corpus scan at any scale."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.clustering import (
        assign_clusters,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    df = assign_clusters(emb, [[0.0] * 64, [1.0] * 64]).select("vec_id", "cluster")
    assert shuffle_count(df) == 0, explain_str(df, "simple")


def test_ivf_training_sample_uses_take_ordered(spark, sf_dir):
    """The deterministic bounded sample must compile to
    TakeOrderedAndProject (per-partition top-n heap), not a global
    Sort + Limit — the difference between one scan and a sort shuffle
    of the full corpus."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    sample = emb.select("embedding", "vec_id").orderBy("vec_id").limit(10_000)
    assert "TakeOrderedAndProject" in explain_str(sample, "simple")


def test_price_quantiles_exact_single_sort_shuffle(spark, sf_dir):
    """Discrete rank quantiles: one hash-partition shuffle on the group
    key feeds both windows and the final aggregate — no extra exchange
    per percentile."""
    df = Q.q_price_quantiles_exact(spark, sf_dir)
    assert shuffle_count(df) <= 2, explain_str(df, "simple")


def test_cap_per_group_window_limit_is_pushed_map_side(spark, sf_dir):
    """The per-domain cap must plan as partial→final WindowGroupLimit
    around ONE exchange: a hot domain's rows are bounded to the cap on
    the map side BEFORE shuffling — without the partial span, one
    viral domain concentrates its full row set in a single task's sort
    buffer at 100 TB."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sampling import (
        cap_per_group,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 5).cast("string")).alias("domain"),
    )
    df = cap_per_group(d, "domain", 8, "doc_id")
    plan = explain_str(df, "formatted")
    assert plan.count("WindowGroupLimit") >= 2 and "Partial" in plan, plan
    assert shuffle_count(df) == 1, explain_str(df, "simple")


def test_quality_buckets_no_global_sort_over_rows(spark, sf_dir):
    """CCNet bucketing's assignment plan must be a pure literal-CASE
    projection over the scored rows — no join, no window, no sort: the
    thresholds were resolved from the bounded score-domain aggregate
    before the plan was built."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.lm import (
        quality_buckets,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", (F.col("doc_id") % 997).alias("coverage_pm")
    )
    df = quality_buckets(d, "coverage_pm")
    plan = explain_str(df, "formatted")
    for op in ("Join", "Window", "Sort"):
        assert op not in plan, (op, plan)
    assert shuffle_count(df) == 0, explain_str(df, "simple")
    # two-action lock: the threshold collect already ran the upstream
    # lineage; the assignment projection must read the persisted frame
    # (InMemoryTableScan), not re-execute the scored pipeline
    assert "InMemoryTableScan" in explain_str(df, "simple"), plan
    d.unpersist()


def test_kmeans_persists_source_across_iterations(spark, sf_dir):
    """kmeans_lloyd runs 2+iters actions over the same projection; the
    returned assignment must read the persisted blocks, not re-run the
    upstream lineage once per action."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.clustering import (
        kmeans_lloyd,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_lloyd(emb, k=4, iters=1)
    assert "InMemoryTableScan" in explain_str(assigned, "simple")
    emb.select("vec_id", "embedding").unpersist()
