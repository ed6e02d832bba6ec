"""Similarity search over embedding columns (SURVEY.md §2.5 N3).

Two tiers, same API:

- :func:`cosine_topk` — exact brute force. The query side is small by
  contract (a handful of probe vectors) and is **broadcast**, so the
  candidate scan is a single map stage (no shuffle of the 100 TB side);
  top-k is a per-query window over the scored rows.
- :func:`lsh_topk` — the scale path: random-hyperplane LSH buckets both
  sides, the join touches only matching buckets, then exact rescoring
  within buckets. Recall < 1.0 by design; ``probes`` widens buckets.

Dot products use ``zip_with`` + ``aggregate`` — builtin higher-order
functions evaluated in the JVM, element-order-deterministic (left fold),
no Python or Arrow transfer in the hot loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product of two array<float|double> cols."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 6,
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k nearest
    candidates (self-matches excluded).

    Output: (q_id, n_id, sim) ranked deterministically by
    (sim desc, n_id) so ties are stable. The query side is broadcast —
    the big side is scanned once, never shuffled; the only shuffle is
    the per-query top-k, whose input is already pruned to scored rows.

    The broadcast makes the join a BroadcastNestedLoopJoin BY DESIGN,
    which is only sane while the query side is broadcast-sized — that
    contract is load-bearing, so it's asserted: more than
    ``max_query_rows`` query vectors raises ``ValueError`` (use
    :func:`embedding_neardup_pairs`'s blockwise kernel, or
    :func:`lsh_topk`/:func:`ivf_topk`, for big-×-big top-k). The guard
    costs one bounded count job; callers whose query side is bounded BY
    CONSTRUCTION (a literal probe list, a limit) may pass ``None`` to
    skip it.
    """
    if max_query_rows is not None:
        n_q = queries.limit(max_query_rows + 1).count()
        if n_q > max_query_rows:
            raise ValueError(
                f"cosine_topk broadcasts the query side; got > {max_query_rows} "
                "query rows — use the blockwise/LSH/IVF paths for big query sets"
            )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = candidates.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")
    )
    sim = cosine(F.col("q_vec"), F.col("n_vec"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "sim")
    )


def knn_label_vote(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """k-NN majority-label classification of each query vector.

    Ties broken by smaller label (deterministic). Output (q_id, pred_label).
    """
    topk = cosine_topk(
        candidates, queries, k, id_col, vec_col, max_query_rows=max_query_rows
    )
    labeled = topk.join(
        candidates.select(F.col(id_col).alias("n_id"), F.col(label_col)), "n_id"
    )
    votes = labeled.groupBy("q_id", label_col).agg(F.count("*").alias("n_votes"))
    w = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc(label_col))
    return (
        votes.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("q_id", F.col(label_col).alias("pred_label"))
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 0,
    threshold: float = 0.95,
    round_to: int = 6,
    target_cluster_size: int | None = None,
    info: dict | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., *SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication*, 2023): k-means the
    embedding space, then call two documents semantic duplicates when
    their cosine similarity within a cluster reaches ``threshold``;
    keep the lowest id of each duplicate relation (the same greedy
    ``near_dedup_keep`` uses, so both dedup tiers share drop
    semantics).

    The clustering IS the scalability story — identical to this
    module's IVF tier: all-pairs cosine is O(n²), but pairs are only
    scored inside a cluster, so compute is Σ|cluster|². Scoring is one
    Arrow-batched ``applyInPandas`` per cluster — a vectorized
    ``Xn @ Xn.T`` (BLAS) plus one lower-triangle reduction, no
    per-pair interpreted expressions (the Catalyst-HOF form stalled at
    minutes for a 1.9k-row cluster in the 30× smoke; this kernel does
    the same cluster in milliseconds) — and it is exactly how the
    paper computes it (per-cluster similarity matrix, here evaluated
    in row SLABS of ~256 MB so per-task memory is bounded regardless
    of cluster size — round 14: the full |cluster|² materialization
    made 100× wall time swing 137-546s with allocation luck across the
    8 concurrent tasks; slabs also halve the FLOPs, computing only
    columns j < i). Compute is still Σ|cluster|², so a FIXED k is a
    scale cliff. Pass ``target_cluster_size`` (the production
    setting) and k scales with the data instead —
    ``k = max(k, ⌈n / target⌉)`` (one count job; the paper runs tens
    of thousands of clusters the same way), which bounds per-task
    memory at ~``target²`` floats regardless of corpus size. The
    SQL-replayed registry entry keeps the fixed k=8 oracle
    configuration; a skewed hot cluster bounds exactly like a hot
    PPJoin bucket (sub-cluster it).

    Similarities are rounded to ``round_to`` decimals before the
    threshold test — the module-standard bridge (see
    :func:`embedding_neardup_pairs`) that makes BLAS summation order
    and the oracle's sequential SQL fold agree exactly.

    ``iters=0`` uses the deterministic smallest-id init verbatim —
    fully SQL-replayable (the oracle's hard row); real runs raise
    ``iters``.

    Output: one row per input — (id, cluster, keep boolean). The
    assignment table is materialized at the session's tier (see
    ``session.materialize``).

    ``info``: optional caller-supplied dict filled with how k was
    resolved — ``n`` (corpus size, only counted when the target path
    runs), ``k_requested``, ``k_from_target`` (⌈n / target⌉),
    ``k_effective``, and ``target_engaged`` (True iff the data-scaled
    branch executed). Lets the registry entry emit an ``engaged``
    literal the oracle pins to TRUE — if the production scaling path
    silently stops engaging, the driver goes red rather than the
    cliff coming back quietly at 100×.

    ``n_rows``: caller-supplied corpus size. Callers deriving
    ``target_cluster_size`` FROM a count they already ran (the
    registry entry does) pass it here so the target branch reuses it
    instead of re-scanning; when omitted, the branch runs its own
    count job. It must be the EXACT ``df.count()`` — it is trusted,
    not re-verified (re-counting would defeat the point of passing
    it), and an undercount silently shrinks ``k_from_target``, which
    reintroduces the per-task |cluster|² memory cliff
    ``target_cluster_size`` exists to prevent. Non-positive values
    are rejected loudly.
    """
    import numpy as np
    import pandas as pd

    from .clustering import assign_clusters, kmeans_lloyd
    from ..session import materialize

    # multi-action shape (optional count, k-means init + per-iteration
    # collects, the final assignment the caller consumes): persist the
    # projection ONCE here — cache substitution applies to subtrees, so
    # every derived plan (kmeans_lloyd's loop included, persist=False
    # below) reads the cached blocks instead of re-running the upstream
    # lineage per action. Lineage kept: eviction recomputes, never fails.
    from pyspark import StorageLevel

    src = df.select(id_col, vec_col).persist(StorageLevel.MEMORY_AND_DISK)
    if n_rows is not None and n_rows < 1:
        # validated regardless of target_cluster_size: a caller who
        # passes a count believing it is honored must hear about a
        # garbage value even on the fixed-k path
        raise ValueError(
            f"n_rows must be the exact positive count of df, got {n_rows}"
        )
    if info is not None:
        info.update(k_requested=k, target_engaged=False)
    if target_cluster_size is not None:
        if target_cluster_size < 1:
            raise ValueError(
                f"target_cluster_size must be >= 1, got {target_cluster_size}"
            )
        n = src.count() if n_rows is None else n_rows
        k_from_target = -(-n // target_cluster_size)
        k = max(k, k_from_target)
        if info is not None:
            info.update(n=n, k_from_target=k_from_target, target_engaged=True)
    if info is not None:
        info["k_effective"] = k
    _, centroids = kmeans_lloyd(
        src, k=k, iters=iters, id_col=id_col, vec_col=vec_col, persist=False
    )
    assigned = materialize(assign_clusters(src, centroids, vec_col))
    # the materialization severed lineage, and src is local — without
    # this, every call leaks one cached copy of the full embedding
    # projection for the session lifetime (nobody can unpersist it)
    src.unpersist()

    t = float(threshold)
    rt = round_to

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        x = np.array(pdf[vec_col].tolist(), dtype=np.float64)[order]
        n = np.linalg.norm(x, axis=1)
        n[n == 0] = 1.0
        xn = x / n[:, None]
        # greedy keep-lowest: row i drops iff some j < i (id order) has
        # sim >= t — a pure existence test over the strict lower
        # triangle, so it evaluates in ROW BLOCKS with results
        # bit-identical to the full matrix (same products, same
        # rounding). The full |cluster|² sims materialization was the
        # measured variance mechanism at 100× (round 14, SCALING.md):
        # 8 concurrent tasks × (5 GB matrix + GEMM temp + round copy)
        # co-scheduled against executor memory, so wall time swung
        # 137-546s with allocation luck. Slabs bound each task at
        # ~256 MB regardless of cluster size, and only columns j < i
        # ever compute — half the FLOPs of the square form.
        n_rows = len(ids)
        blk = max(128, (256 << 20) // (8 * max(n_rows, 1)))
        drop = np.zeros(n_rows, dtype=bool)
        for s in range(0, n_rows, blk):
            e = min(s + blk, n_rows)
            ge = np.round(xn[s:e] @ xn[:e].T, rt) >= t
            ge[:, s:e] &= np.tri(e - s, k=-1, dtype=bool)
            drop[s:e] = ge.any(axis=1)
        return pd.DataFrame(
            {
                id_col: ids[order],
                "cluster": pdf["cluster"].iloc[0],
                "keep": ~drop,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        prune, schema=f"{id_col} long, cluster int, keep boolean"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    n_blocks: int = 8,
    target_block_rows: int | None = None,
) -> DataFrame:
    """N2 (embedding variant): exact cosine near-duplicate pairs —
    all (id_a < id_b) pairs with similarity ≥ ``threshold``.

    Plan: **blockwise grid, fully distributed — nothing is collected to
    the driver.** Rows are hashed into ``n_blocks`` row blocks
    (``pmod(xxhash64(id), B)``); each row is fanned out to its
    upper-triangular grid cells (block_i ≤ block_j) with a narrow
    ``explode(sequence(...))`` (no join, no driver relation); the two
    sides of a cell are cogrouped on the equi-key (bi, bj) and scored in
    one Arrow-batched numpy ``A @ B.T`` per cell (vectorized BLAS, no
    per-pair interpreted expressions). Exact, not approximate: every
    pair is scored; only the arithmetic is batched.

    Scale: per-executor memory is bounded by the two blocks of a cell
    (~2·n/B rows) plus the cell's |bi|×|bj| similarity matrix, not the
    corpus — so a FIXED B is a memory cliff exactly like
    ``semantic_dedup``'s fixed k: the 100× smoke (200k vectors) timed
    out past 590s at B=8 (~5 GB sims per cell) and ran **40s** at
    B=100. Pass ``target_block_rows`` (the production setting) and B
    scales with the data instead — ``B = max(n_blocks, ⌈n/target⌉)``
    (one count job), bounding per-cell memory at ~``target²`` floats;
    total compute stays the inherent O(n²) of exact all-pairs, data
    movement O(n·B). For sub-quadratic behavior prune candidates first
    with :func:`lsh_topk`-style bucketing and exact-rescore inside
    buckets.
    Diagonal cells (bi == bj) dedup via ``id_a < id_b``; off-diagonal
    cells hold disjoint id sets (unique ids → disjoint hash blocks), so
    each unordered pair is emitted exactly once, ordered (min, max).
    """
    if target_block_rows is not None:
        if target_block_rows < 1:
            raise ValueError(
                f"target_block_rows must be >= 1, got {target_block_rows}"
            )
        n = df.count()
        n_blocks = max(n_blocks, -(-n // target_block_rows))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # row in block b participates in cells (b, j≥b) as the left side and
    # (i≤b, b) as the right side — fan out with narrow explodes
    left = base.select(
        F.col("_blk").alias("bi"),
        F.explode(F.sequence(F.col("_blk"), F.lit(n_blocks - 1))).alias("bj"),
        "_id",
        "_vec",
    )
    # The right side's payload gets FRESH column names (hence fresh
    # attribute ids): both sides share the `base` lineage, and with
    # identical names+ids Catalyst dedups the right child's _id/_vec
    # references onto the LEFT child and prunes them from the right —
    # the UDF then receives a right block with only the key columns.
    # (Surfaced by a plan whose parent needs no output columns, e.g.
    # result.count(); locked by test_empty_corpus/test_similarity.)
    right = base.select(
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("bi"),
        F.col("_blk").alias("bj"),
        F.col("_id").alias("_rid"),
        F.col("_vec").alias("_rvec"),
    )

    def cell(key, lpdf, rpdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "sim": "float64"}
        )
        if not len(lpdf) or not len(rpdf):
            return empty
        a_ids = lpdf["_id"].to_numpy(dtype=np.int64)
        b_ids = rpdf["_rid"].to_numpy(dtype=np.int64)
        # np.stack over the Arrow-delivered per-row ndarrays: one C-level
        # copy per row instead of a Python list() of every element
        # (optimization guide §4.2 — keep per-batch work vectorized)
        a = np.stack(lpdf["_vec"].to_numpy()).astype(np.float64, copy=False)
        b = np.stack(rpdf["_rvec"].to_numpy()).astype(np.float64, copy=False)
        a /= np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-300)
        b /= np.maximum(np.linalg.norm(b, axis=1, keepdims=True), 1e-300)
        sims = np.round(a @ b.T, round_to)
        keep = sims >= threshold
        if key[0] == key[1]:
            keep &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(keep)
        ia, ib = a_ids[ai], b_ids[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "sim": sims[ai, bi],
            }
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(cell, "id_a long, id_b long, sim double")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (driver-side, tiny)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    return planes.tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id for ``vec`` under the given hyperplanes.
    Zero planes → the empty sign pattern: ONE universal bucket, i.e. the
    exhaustive configuration where LSH degenerates to brute force (the
    oracle-checkable twin `lsh_topk_exact` rides this)."""
    if not planes:
        return F.lit("")
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(float(p)) for p in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _training_sample(
    candidates: DataFrame, id_col: str, vec_col: str, sample_size: int
) -> list[list[float]]:
    """Deterministic bounded training sample: the ``sample_size``
    smallest-id vectors. A bare ``limit(n)`` is partition-order-
    dependent — centroids (and every downstream probe) would drift
    across cluster layouts. ``orderBy(id).limit(n)`` compiles to
    TakeOrderedAndProject: one scan with a per-partition top-n heap,
    no full sort, same rows on any partitioning."""
    return [
        r[0]
        for r in candidates.select(vec_col, id_col)
        .orderBy(id_col)
        .limit(sample_size)
        .collect()
    ]


def _kmeans_centroids(
    vectors: list[list[float]], n_clusters: int, seed: int = 42, iters: int = 10
) -> list[list[float]]:
    """Driver-side spherical k-means on a sample (tiny: n_clusters ≤
    O(10³) centroids regardless of corpus size). Deterministic seed."""
    import numpy as np

    if not vectors:
        raise ValueError("ivf training: no vectors to train centroids on")
    x = np.asarray(vectors, dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def _nearest_centroid_ids(vec: Column, cents: list[list[float]], n: int) -> Column:
    """Ids of the ``n`` nearest centroids by dot product (descending)."""
    sims = F.array(
        *[dot(vec, F.array(*[F.lit(float(v)) for v in c])) for c in cents]
    )
    idx = F.sequence(F.lit(0), F.lit(len(cents) - 1))
    ranked = F.reverse(
        F.array_sort(
            F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("s"), i.alias("i")))
        )
    )
    return F.transform(F.slice(ranked, 1, n), lambda p: p["i"])


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    sample_size: int = 10_000,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Train: driver-side spherical k-means on a bounded sample →
    ``n_clusters`` centroids (a broadcast-sized model at any corpus
    scale). Index: each candidate is assigned to its nearest centroid —
    at rest this is the partition key, so a probe reads only its
    clusters' partitions (partition pruning = the IVF "inverted
    lists"). Search: each query probes its ``n_probe`` nearest
    clusters; exact cosine rescoring runs only inside probed clusters,
    touching ~n_probe/n_clusters of the corpus.

    Recall < 1.0 by design; raise ``n_probe`` to trade compute for
    recall (n_probe == n_clusters degenerates to exact brute force).
    """
    sample = _training_sample(candidates, id_col, vec_col, sample_size)
    cents = _kmeans_centroids(sample, n_clusters, seed)

    c = candidates.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _nearest_centroid_ids(F.col(vec_col), cents, 1)[0].alias("cluster"),
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            _nearest_centroid_ids(F.col(vec_col), cents, n_probe)
        ).alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "sim")
    )


def build_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> None:
    """Materialize the multi-table LSH index AT REST: one row per
    (table, bucket) membership, ``partitionBy("bucket")`` parquet — the
    physical layout that makes :func:`lsh_probe` a partition-pruned
    read. This is the 100 TB path the in-memory :func:`lsh_topk`
    docstring promises: index once, then every probe touches
    ~n_tables·n/2^planes rows instead of n."""
    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        buckets.append(
            F.concat(F.lit(f"{t}-"), lsh_bucket(F.col(vec_col), planes))
        )
    (
        df.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("n_vec"),
            F.explode(F.array(*buckets)).alias("bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def lsh_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Probe a :func:`build_lsh_index` index: compute the query side's
    buckets (queries are small by contract — the distinct bucket list is
    a driver-sized set), then scan ONLY those buckets' partitions
    (static partition pruning: the ``bucket IN (...)`` filter never
    reads the other 2^planes·n_tables directories). Exact cosine
    rescoring and per-query top-k run inside the pruned candidate set —
    same results as :func:`lsh_topk` with the same parameters."""
    q_buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        q_buckets.append(
            F.concat(F.lit(f"{t}-"), lsh_bucket(F.col(vec_col), planes))
        )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(F.array(*q_buckets)).alias("bucket"),
    )
    probe_buckets = [r["bucket"] for r in q.select("bucket").distinct().collect()]
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(probe_buckets))
    pairs = (
        idx.select("n_id", "bucket")
        .join(F.broadcast(q.select("q_id", "bucket")), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    # rescore vectors come from the PRUNED scan too (any candidate's
    # vector rides the same bucket partition its pair was found in)
    scored = (
        pairs.join(idx.select("n_id", "n_vec").dropDuplicates(["n_id"]), "n_id")
        .join(
            F.broadcast(
                queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
            ),
            "q_id",
        )
        .select("q_id", "n_id", F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "sim")
    )


def build_ivf_index(
    candidates: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    sample_size: int = 10_000,
) -> None:
    """Materialize the IVF index AT REST: centroids trained on a bounded
    sample (driver k-means, broadcast-sized model), candidates written
    ``partitionBy("cluster")`` — the inverted lists ARE the partition
    directories. Centroids persist next to the index (``<path>__centroids``)
    so probes recompute nothing."""
    spark = candidates.sparkSession
    sample = _training_sample(candidates, id_col, vec_col, sample_size)
    cents = _kmeans_centroids(sample, n_clusters, seed)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cluster int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}__centroids")
    (
        candidates.select(
            F.col(id_col).alias("n_id"),
            F.col(vec_col).alias("n_vec"),
            _nearest_centroid_ids(F.col(vec_col), cents, 1)[0].alias("cluster"),
        )
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(path)
    )


def ivf_probe(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Probe a :func:`build_ivf_index` index: load the (tiny) stored
    centroids, assign each query its ``n_probe`` nearest clusters, and
    scan ONLY those clusters' partitions — the ``cluster IN (...)``
    filter is static partition pruning over the inverted lists. Exact
    rescoring inside probed clusters; same results as :func:`ivf_topk`
    with the same training parameters."""
    cent_rows = sorted(
        spark.read.parquet(f"{path}__centroids").collect(), key=lambda r: r["cluster"]
    )
    cents = [list(r["centroid"]) for r in cent_rows]
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(
            _nearest_centroid_ids(F.col(vec_col), cents, n_probe)
        ).alias("cluster"),
    )
    probe_clusters = [r["cluster"] for r in q.select("cluster").distinct().collect()]
    idx = spark.read.parquet(path).filter(F.col("cluster").isin(probe_clusters))
    scored = (
        idx.join(F.broadcast(q), "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "sim")
    )


def lsh_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits each
    (OR-amplification): a candidate is scored if it shares a bucket with
    the query in ANY table — per-table collision probability for angle θ
    is (1−θ/π)^planes, and tables multiply the chance of catching true
    neighbors while random pairs stay improbable. Each (table, bucket)
    key joins independently; candidate pairs are deduped before the one
    exact rescoring pass.

    The 100 TB path: (table, bucket) becomes the partition key — a
    query reads only its n_tables buckets' partitions (partition
    pruning), ~n_tables·n/2^planes rows instead of n.
    """
    q_buckets = []
    c_buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        bucket = F.concat(F.lit(f"{t}|"), lsh_bucket(F.col(vec_col), planes))
        q_buckets.append(bucket)
        c_buckets.append(bucket)

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(F.array(*q_buckets)).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        F.explode(F.array(*c_buckets)).alias("bucket"),
    )
    # candidate pairs from any table, deduped BEFORE the expensive rescore
    pairs = (
        c.select("n_id", "bucket")
        .join(F.broadcast(q.select("q_id", "bucket")), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    scored = (
        pairs.join(candidates.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec")), "n_id")
        .join(
            F.broadcast(
                queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
            ),
            "q_id",
        )
        .select("q_id", "n_id", F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "sim")
    )
