"""Distributed sampling operators: prefix sums, stable row ids, PPS
systematic sampling, and weighted reservoir (A-ES) sampling.

The reference pipeline samples implicitly (API quota caps the corpus at
~5k records/run — ``/root/reference/scripts/extract.py:61-64``); a 100 TB
curation pipeline samples explicitly and the sample must be reproducible
on any cluster topology. Three primitives:

- ``distributed_prefix_sum`` / ``assign_stable_ids``: the classic
  two-pass prefix computation. A window ``SUM() OVER (ORDER BY key)``
  with no PARTITION BY collapses Spark to ONE task — correct and fine
  for an oracle, fatal at 100 TB. The two-pass form range-partitions by
  the order key, aggregates one partial per partition (a collect of
  #partitions rows, not data rows), broadcasts exclusive offsets, and
  streams each partition once adding offset + local running total.
  Wall-clock is two narrow passes; nothing ever concentrates.

- ``pps_systematic_sample``: probability-proportional-to-size
  systematic sampling (Madow's method): lay the rows on the integer
  weight line in key order, take one row at each multiple of
  ``step = total // k``. Deterministic by construction — pure integer
  arithmetic over the prefix sums, no RNG — so the sample is identical
  on any partitioning AND independently replayable in SQL (the oracle
  recomputes it with a window sum).

- ``weighted_sample_aes``: Efraimidis–Spirakis A-ES weighted sampling
  without replacement: per-row key ``-ln(u)/w`` with ``u`` derived from
  a portable md5 (NOT ``rand()``, which is seed+partition dependent);
  the k smallest keys are the sample. One scan, per-partition top-k
  heaps (TakeOrderedAndProject), no shuffle of the data. ``ln`` is the
  one non-exactly-rounded operation in this module; both engines agree
  to within 1 ulp, so a rank flip needs two keys within ~2 ulp of each
  other at the k-boundary (probability ~2^-50 under md5 uniformity).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

__all__ = [
    "distributed_prefix_sum",
    "assign_stable_ids",
    "pps_systematic_sample",
    "weighted_sample_aes",
    "cap_per_group",
    "group_split",
    "mixture_plan",
]

_PID = "__sampling_pid"


def _check_collisions(df: DataFrame, names: list[str]) -> None:
    clash = [c for c in names if c in df.columns]
    if clash:
        raise ValueError(f"column name collision with operator temps: {clash}")


def distributed_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive running sum of ``value_col`` over the
    global ``order_col`` order, without ever forming a global window.

    Two-pass plan (scale posture — the whole point of this operator):

    1. ``repartitionByRange(order_col).sortWithinPartitions(order_col)``
       gives a globally ordered partitioning (partition *i* holds keys
       strictly below partition *i+1*). ``session.materialize`` pins it
       so pass 1 and pass 2 see the SAME sampled range boundaries.
    2. Pass 1 aggregates one ``(partition_id, sum)`` row per partition —
       the driver collects #partitions rows, never data.
    3. Pass 2 streams each partition once (``mapInPandas``, Arrow
       batches), adding the partition's exclusive offset plus a running
       in-partition cumsum carried across batches.

    ``order_col`` must be unique (it defines "the" order) — duplicates
    are detected inside pass 2's existing scan (sorted input makes them
    consecutive; zero extra passes) and refused loudly. ``value_col``
    must be integral — integer prefix sums are exact and associative,
    so the result is bit-identical on any partitioning.
    """
    _check_collisions(df, [_PID, out_col])
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = materialize(
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn(_PID, F.spark_partition_id())
    )
    partials = parted.groupBy(_PID).agg(
        F.sum(F.col(value_col).cast("long")).alias("s")
    ).collect()
    sums = {r[_PID]: r["s"] or 0 for r in partials}
    offsets = {}
    run = 0
    for pid in sorted(sums):
        offsets[pid] = run
        run += sums[pid]

    schema = parted.drop(_PID).schema.add(out_col, "long", False)
    out_names = [f.name for f in schema.fields]

    def add_cum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = None
        prev_key = None
        for b in batches:
            if len(b) == 0:
                continue
            # rows arrive sorted by order_col, so duplicate keys are
            # consecutive — detectable here for free (same pass, no
            # extra action). A duplicate makes "the" order ambiguous
            # and silently corrupts every consumer (fan-out joins,
            # double-counted offsets); refuse loudly instead.
            keys = b[order_col].values
            if (prev_key is not None and keys[0] == prev_key) or (
                len(keys) > 1 and (keys[1:] == keys[:-1]).any()
            ):
                raise ValueError(
                    f"order_col {order_col!r} must be unique — duplicate "
                    "keys make the prefix-sum order ambiguous"
                )
            prev_key = keys[-1]
            if carry is None:
                carry = offsets.get(int(b[_PID].iloc[0]), 0)
            cum = b[value_col].astype("int64").cumsum() + carry
            carry = int(cum.iloc[-1])
            b = b.drop(columns=[_PID])
            b[out_col] = cum.astype("int64").values
            yield b[out_names]

    return parted.mapInPandas(add_cum, schema)


def assign_stable_ids(
    df: DataFrame,
    order_col: str,
    id_col: str = "row_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense 0-based ids by global ``order_col`` order —
    ``ROW_NUMBER() OVER (ORDER BY order_col) - 1`` without the
    single-partition window (and unlike ``monotonically_increasing_id``,
    dense AND stable across re-runs/partitionings).

    Prefix-sum of 1s: each row's id is (#rows before it). Reuses the
    two-pass machinery with a constant value column.
    """
    _check_collisions(df, ["__one", id_col])
    with_one = df.withColumn("__one", F.lit(1).cast("long"))
    cum = distributed_prefix_sum(
        with_one, order_col, "__one", out_col=id_col, num_partitions=num_partitions
    )
    return cum.withColumn(id_col, F.col(id_col) - 1).drop("__one")


def pps_systematic_sample(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    k: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Systematic probability-proportional-to-size sample of ~``k`` rows.

    Rows are laid end-to-end on an integer line in ``order_col`` order,
    each spanning its (positive integer) weight; a row is selected iff a
    multiple of ``step = total_weight // k`` (multiples 1..k only) falls
    inside its span. Inclusion probability is proportional to weight
    (rows with weight ≥ step are always included, once). Zero random
    offset → fully deterministic and SQL-replayable.

    Scale: two narrow passes (the prefix sum) + a filter. Nothing
    collects but per-partition partials.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    cum = materialize(
        distributed_prefix_sum(
            df, order_col, weight_col, out_col="__cum", num_partitions=num_partitions
        )
    )
    row = cum.agg(F.max("__cum").alias("t"), F.min(weight_col).alias("w")).first()
    total = row["t"] or 0
    if row["w"] is not None and row["w"] <= 0:
        raise ValueError("weights must be positive integers")
    if total < k:
        raise ValueError(f"total weight {total} < k {k}")
    step = total // k
    # Integer `div`, not double `/` + floor: at 100 TB the cumulative
    # weights pass 2^53 and double division would misplace sample points.
    lo = F.expr(
        f"(__cum - CAST({weight_col} AS BIGINT)) div CAST({step} AS BIGINT)"
    )
    hi = F.least(F.expr(f"__cum div CAST({step} AS BIGINT)"), F.lit(k))
    return cum.filter(lo < hi).drop("__cum")


def weighted_sample_aes(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "#aes",
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement.

    Per row: ``u = (md5_52bit(key || salt) + 1) / 2^52`` (portable,
    uniform on (0, 1]), sort key ``-ln(u) / w``; the ``k`` smallest sort
    keys are the sample — inclusion probabilities follow successive
    weighted draws without replacement (Efraimidis & Spirakis 2006).

    One scan; ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition bounded heaps merged on the
    driver, no global sort, no shuffle of the data. The score column is
    dropped from the output (it is an implementation detail; keeping
    results to original columns also keeps the oracle hash free of the
    one ~1-ulp-sensitive value in the operator).
    """
    _check_collisions(df, ["__u", "__aes"])
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("double") + 1.0) / float(1 << 52)
    score = -F.log(u) / F.col(weight_col).cast("double")
    return (
        # A-ES is defined for w > 0. A w=0 row's score is +inf (never
        # sampled — the correct w→0 limit), but a NEGATIVE w would get
        # a negative score and always win; filter both out rather than
        # silently inverting the caller's intent.
        df.filter(F.col(weight_col) > 0)
        .withColumn("__aes", score)
        .orderBy(F.col("__aes"), F.col(key_col))
        .limit(k)
        .drop("__aes")
    )


def _aes_replay(rows: list[tuple], k: int, salt: str = "#aes") -> list:
    """Pure-Python replay of ``weighted_sample_aes`` for tests: rows are
    ``(key, weight)``; returns the selected keys."""
    import hashlib

    scored = []
    for key, w in rows:
        hx = hashlib.md5((str(key) + salt).encode()).hexdigest()
        u = (int(hx[:13], 16) + 1) / float(1 << 52)
        scored.append((-math.log(u) / float(w), key))
    scored.sort()
    return [key for _, key in scored[:k]]


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    salt: str = "#cap",
) -> DataFrame:
    """Per-group cap: keep at most ``n`` rows per ``group_col`` value —
    the C4/Common-Crawl "at most N pages per domain" curation rule that
    stops a single hot site from dominating a training mix. Which rows
    survive is deterministic and portable: per-group md5 order
    (``md5(order_col || salt)``, ties broken by ``order_col``), not
    ``rand()`` — the same cap replays on any cluster topology and in
    the SQL oracle. ``order_col`` must be a UNIQUE row key within each
    group (a doc/row id, not e.g. a batch timestamp): duplicated values
    tie on both the hash and the tiebreak, and which duplicate survives
    then depends on arrival order — the determinism contract holds only
    on a key.

    Scale: one shuffle on the group key; within each group the sort is
    group-local, and Spark's WindowGroupLimit pushes the ``rn <= n``
    bound map-side (partial top-n per task before the exchange), so a
    hot domain never concentrates its full row set on one task's
    sort buffer beyond the bound."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql import Window

    _check_collisions(df, ["__cap_rn"])
    w = (
        Window.partitionBy(group_col)
        .orderBy(
            F.md5(F.concat(F.col(order_col).cast("string"), F.lit(salt))),
            F.col(order_col),
        )
    )
    return (
        df.withColumn("__cap_rn", F.row_number().over(w))
        .filter(F.col("__cap_rn") <= n)
        .drop("__cap_rn")
    )


def group_split(
    df: DataFrame,
    group_col: str,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split is a function
    of the GROUP key (domain, dedup-cluster id, author…), so every row
    of a group lands on the same side — the guard against the classic
    evaluation leak where near-duplicate documents from one site
    straddle train and test. Same portable md5-prefix convention and
    shared thresholds as the row-level split
    (``functions/splits.py``); a pure map, no shuffle, no RNG.
    """
    from ..functions.splits import SPLIT_SALT, TRAIN_UPPER_HEX, VAL_UPPER_HEX

    _check_collisions(df, [split_col])
    h = F.md5(F.concat(F.col(group_col).cast("string"), F.lit(SPLIT_SALT)))
    return df.withColumn(
        split_col,
        F.when(h < TRAIN_UPPER_HEX, "train")
        .when(h < VAL_UPPER_HEX, "val")
        .otherwise("test"),
    )


def mixture_plan(
    df: DataFrame,
    weights_pm: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The data-mixing PLAN for a pretraining run (the Pile/Dolma-style
    mixing table): given per-source target weights (per-mille of the
    token budget) and the corpus itself, compute what each source must
    contribute and how to get it — all integer-exact so the plan
    replays in any engine and in the run's audit log.

    Per source: ``n_docs``, ``n_tokens`` (whitespace tokens — swap in
    a tokenizer count upstream if needed), ``weight_pm``,
    ``target_tokens = budget · weight / 1000``, ``rate_pm`` (the
    per-mille sampling rate ``1000 · target / available``, >1000 when
    the source must be upsampled), ``epochs = ⌈target / available⌉``
    (how many passes over the source the sampler schedules), and
    ``upsample`` (target exceeds one epoch). Sources absent from
    ``weights_pm`` get weight 0 — an explicit zero row, not a silent
    drop, so the plan documents exclusions.

    Scale: one map-side-partial groupBy over the corpus (token count
    is a projection, no shuffle before the agg); the weights table is
    a literal broadcast. The plan output is |sources| rows.
    """
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    bad = {k: v for k, v in weights_pm.items() if v < 0}
    if bad:
        raise ValueError(f"weights_pm must be >= 0, got {bad}")
    from .text import token_count

    agg = df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = F.create_map(
        *[x for k, v in sorted(weights_pm.items()) for x in (F.lit(k), F.lit(int(v)))]
    )

    def _intdiv(a, b):
        # exact integer floor division for non-negative longs at ANY
        # magnitude: the remainder strip happens in LONG arithmetic
        # (exact), and the exact-multiple quotient is computed in
        # DECIMAL — routing it through a double would lose the low bits
        # of dividends past 2^53 (a 10T-token budget gets there), where
        # a bare (a / b).cast(long) can disagree with the oracle's //
        return (
            (a - F.pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)")
        ).cast("long")

    weight = F.coalesce(w[F.col(source_col)], F.lit(0)).cast("long")
    target = _intdiv(F.lit(int(budget_tokens)) * weight, F.lit(1000))
    rate_pm = _intdiv(F.lit(1000) * target, F.col("n_tokens"))
    epochs = _intdiv(target + F.col("n_tokens") - 1, F.col("n_tokens"))
    return agg.select(
        F.col(source_col),
        "n_docs",
        "n_tokens",
        weight.alias("weight_pm"),
        target.alias("target_tokens"),
        rate_pm.alias("rate_pm"),
        epochs.alias("epochs"),
        (target > F.col("n_tokens")).alias("upsample"),
    )
