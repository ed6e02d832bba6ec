"""Link-analysis operators: PageRank over a DataFrame edge list.

Web-corpus curation ranks pages by link structure (quality-weighted
sampling, crawl prioritization); the reference has no graph tier at all
(its corpus is a flat book list — `/root/reference/scripts/transform.py`),
so this is part of the LLM-pipeline superset.

Design constraints, in order:

1. **Determinism on any topology.** Float PageRank sums contributions
   in shuffle order — different cluster, different last-ulp ranks. All
   arithmetic here is 64-bit integer fixed-point (ranks in units of
   ``scale⁻¹``): integer sums are associative, integer division is
   exact, so the ranks are bit-identical on 1 executor or 1000 — and
   independently replayable in portable SQL (the oracle unrolls the
   same recurrence with ``//``).
2. **Pregel-shape dataflow.** Each iteration is one join
   (ranks ⋈ edges on ``src``) + one aggregation (sum by ``dst``) — the
   standard message-passing plan. Edges are hash-partitioned on ``src``
   once and persisted; every iteration's join then shuffles only the
   rank table (N rows, not E). Lineage is truncated per iteration
   (``session.materialize``) so the plan doesn't grow with iteration
   count.
3. **Mass accounting.** Every node in the edge list has outdegree ≥ 1
   by construction (nodes are *defined* as edge endpoints; callers with
   dangling nodes add self-loops or reverse edges first — documented,
   validated). Integer floors leak < 1 unit per node per iteration:
   with ``scale = 10^15`` and 10^9 nodes that is a relative error
   < 10^-6 per iteration — negligible, and identically negligible in
   both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

__all__ = ["pagerank_fixed"]


def pagerank_fixed(
    edges: DataFrame,
    iters: int,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**15,
) -> DataFrame:
    """Iterate integer fixed-point PageRank over ``edges(src, dst)``.

    Recurrence (all ops integer; ``//`` is floor division)::

        r0       = scale // N                      (uniform start)
        jump     = ((den - num) * r0) // den       (constant teleport)
        contrib  = r[src] // outdeg[src]           (per edge)
        r'[v]    = jump + (num * Σ contrib_in(v)) // den

    Returns ``(node, rank_fp)`` — ``rank_fp`` in units of ``scale⁻¹``.
    Dangling nodes (appearing only as ``dst``) get rank mass but emit
    none; their outbound mass simply leaves the system, matching the
    "remove danglings' outflow" PageRank variant. Callers wanting
    symmetric flow pass both edge directions.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).distinct()
    # Partition the (big) edge table once on the join key; every
    # iteration's join reuses this layout and shuffles only ranks.
    e = materialize(e.repartition("src"))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_fp", F.lit(0).cast("long"))
    r0 = scale // n
    jump = ((damping_den - damping_num) * r0) // damping_den

    ranks = nodes.withColumn("rank_fp", F.lit(r0).cast("long"))
    emitters = e.join(deg, "src")  # (src, dst, outdeg), src-partitioned
    for _ in range(iters):
        inflow = (
            emitters.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                "dst",
                F.expr("rank_fp div outdeg").alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = materialize(
            nodes.join(inflow.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(jump)
                    + F.expr(
                        f"(CAST({damping_num} AS BIGINT) * coalesce(s, CAST(0 AS BIGINT)))"
                        f" div CAST({damping_den} AS BIGINT)"
                    )
                ).cast("long").alias("rank_fp"),
            )
        )
    return ranks
