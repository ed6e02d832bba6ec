"""Approximate sketches (the brief's "novel sketch" slot): bounded-error
aggregates whose cost stays O(sketch size) per group no matter how many
rows flow through — the only viable shape for distinct-counts and
quantiles at 100 TB.

All built on Spark's native sketch aggregates (HyperLogLog++ for
distinct counts, Greenwald-Khanna for quantiles) — JVM-side, mergeable
across partitions (the sketch property that makes them distributable:
partial sketches combine losslessly in the shuffle). Error bounds are
asserted against exact answers in tests; sketches are engine-specific
by nature, so the driver gets rows-only checks.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def approx_distinct(
    df: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    rsd: float = 0.05,
) -> DataFrame:
    """HyperLogLog++ distinct count (relative standard deviation
    ``rsd``). Memory per group is O(1/rsd²) regardless of cardinality —
    contrast exact countDistinct, whose per-group state grows with the
    distinct set."""
    agg = F.approx_count_distinct(value_col, rsd).alias("approx_distinct")
    if group_by:
        return df.groupBy(*group_by).agg(agg)
    return df.agg(agg)


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    capacity: int = 4096,
    split: str | None = None,
) -> DataFrame:
    """Top-k frequent items via a distributed Misra-Gries summary
    (Agarwal et al., *Mergeable Summaries*, PODS'12).

    Per partition, an Arrow-batched stream fold keeps at most
    ``capacity`` counters: each batch's exact ``value_counts`` is added,
    then the summary is compressed back under the cap by subtracting
    the (capacity+1)-th largest counter from all and dropping the
    non-positives — the MG step whose total subtraction is amortized
    ≤ n_p/(capacity+1) over the partition. Partition summaries then
    merge in one narrow ``groupBy(item)`` (≤ capacity rows per
    partition cross the shuffle, regardless of domain size — the whole
    point vs an exact groupBy whose map-side hash state grows with the
    local domain).

    Output, ordered (est_count desc, item asc), k rows:
    (item, est_count, max_undercount) with the MG guarantee
    ``est_count ≤ true_count ≤ est_count + max_undercount`` where
    ``max_undercount`` = the summed per-partition deductions. With
    ``capacity`` ≥ the per-partition distinct domain nothing is ever
    deducted and the result is EXACT (max_undercount = 0) — the
    property the driver oracle pins.

    ``split`` (round 15, optimization guide §4.1/§4.2): when the item
    stream is words inside a delimited string column, pass the
    delimiter instead of exploding in the JVM — each row's value is
    split INSIDE the kernel on the LITERAL delimiter, exactly like
    Python's ``str.split(split)``: no character is special (``"."``
    and ``"|"`` split on a dot and a pipe — unlike Spark's regex
    ``split``), NULL → no items, empty string → one ``""`` item, and
    adjacent, leading or trailing delimiters yield ``""`` items. For a
    delimiter with no regex metacharacter (``" "``) this is the same
    item stream as ``explode(split(col, delim))``. Rows crossing
    the JVM→Python boundary drop by the items-per-row factor while the
    per-partition item multiset — and therefore the MG result — is
    unchanged. Measured at 100× on the word-count entry: 7.2 s → 1.8 s
    (the boundary transfer of 27M single-word rows was 6.7 s of the
    7.2 s; batch-size tuning moved nothing). Only batch boundaries
    shift, which can only change WHERE the compression step fires in
    the capacity≪domain regime — the MG undercount bound is per-item
    deduction-sum and holds regardless (tests/test_merge_sketch.py).

    The kernel runs ONCE: partition summaries are aggregated in one
    ``groupBy(item)`` that sums both the counts and the deductions, so
    the bound rides the aggregated NULL-item row. That row sorts first
    into a (k+1)-row top list, where a window over those k+1 rows
    spreads its deduction total and a filter drops it. (A separate
    bound aggregate over the summaries would read them through its own
    exchange and rerun the Python kernel.)
    """
    if k < 1 or capacity < 1:
        raise ValueError(f"k and capacity must be >= 1, got k={k}, capacity={capacity}")

    out_schema = "item string, cnt long, deducted long"

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        deducted = 0
        for pdf in batches:
            vals = pdf[value_col].dropna().astype(str)
            if split is not None:
                vals = vals.str.split(split, regex=False).explode()
            vc = vals.value_counts()
            for item, c in vc.items():
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > capacity:
                # MG compress: subtract the (capacity+1)-th largest
                # counter everywhere; ≤ capacity positives survive
                s = sorted(counts.values(), reverse=True)[capacity]
                counts = {i: c - s for i, c in counts.items() if c > s}
                deducted += s
        yield pd.DataFrame(
            {
                "item": list(counts),
                "cnt": list(counts.values()),
                "deducted": [0] * len(counts),
            }
        )
        # one bookkeeping row per partition carries the deduction total
        yield pd.DataFrame({"item": [None], "cnt": [0], "deducted": [deducted]})

    order = (F.desc("est_count"), F.asc("item"))
    return (
        df.select(value_col)
        .mapInPandas(summarize, schema=out_schema)
        .groupBy("item")
        .agg(F.sum("cnt").alias("est_count"), F.sum("deducted").alias("deducted"))
        # the NULL-item bookkeeping row first, then the top k items
        .orderBy(F.col("item").isNull().desc(), *order)
        .limit(k + 1)
        .withColumn("max_undercount", F.sum("deducted").over(Window.partitionBy()))
        .filter(F.col("item").isNotNull())
        .select("item", "est_count", "max_undercount")
        .orderBy(*order)
    )


def approx_quantiles(
    df: DataFrame,
    value_col: str,
    probabilities: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Mergeable quantile sketch (error ≤ 1/accuracy of rank)."""
    pct = F.percentile_approx(
        value_col,
        F.array(*[F.lit(float(p)) for p in probabilities]),
        F.lit(accuracy),
    )
    cols = [
        pct[i].alias(f"q{int(p * 100)}") for i, p in enumerate(probabilities)
    ]
    if group_by:
        base = df.groupBy(*group_by).agg(pct.alias("__q"))
        return base.select(
            *group_by,
            *[
                F.col("__q")[i].alias(f"q{int(p * 100)}")
                for i, p in enumerate(probabilities)
            ],
        )
    return df.agg(pct.alias("__q")).select(
        *[
            F.col("__q")[i].alias(f"q{int(p * 100)}")
            for i, p in enumerate(probabilities)
        ]
    )
