"""Similarity-search tests: exact top-k semantics, and recall of the
two approximate scale paths (hyperplane LSH, IVF) against brute force.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import similarity as sim
from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

K = 5
N_QUERIES = 10


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def exact(emb):
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    out = sim.cosine_topk(emb, q, k=K)
    return {(r["q_id"], r["n_id"]) for r in out.collect()}


def _recall(approx_df, exact_pairs) -> float:
    got = {(r["q_id"], r["n_id"]) for r in approx_df.collect()}
    return len(got & exact_pairs) / len(exact_pairs)


def test_exact_topk_self_excluded_and_k_sized(emb, exact):
    assert len(exact) == N_QUERIES * K
    assert all(q != n for q, n in exact)


def test_exact_topk_agrees_with_numpy(spark, emb):
    import numpy as np

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ xn.T
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    got = sim.cosine_topk(emb, q, k=K, round_to=None).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["q_id"], -r["sim"], r["n_id"])):
        by_q.setdefault(r["q_id"], []).append(r["n_id"])
    for qid, neighbors in by_q.items():
        qi = int(np.where(ids == qid)[0][0])
        order = np.argsort(-sims[qi])
        want = [int(ids[j]) for j in order if ids[j] != qid][:K]
        # allow tie-order differences: compare the similarity values
        got_sims = sorted(round(float(sims[qi][np.where(ids == n)[0][0]]), 9) for n in neighbors)
        want_sims = sorted(round(float(sims[qi][np.where(ids == w)[0][0]]), 9) for w in want)
        assert got_sims == pytest.approx(want_sims, abs=1e-9)


def test_lsh_topk_recall(emb, exact):
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    # defaults: 4 planes × 8 OR-amplified tables → 0.72 measured recall
    # (seeded planes, so this bound is deterministic here)
    approx = sim.lsh_topk(emb, q, k=K)
    assert _recall(approx, exact) >= 0.6
    # more tables → more recall (the OR-amplification knob)
    wider = sim.lsh_topk(emb, q, k=K, n_tables=16)
    assert _recall(wider, exact) >= _recall(approx, exact)


def test_ivf_topk_recall_and_probe_scaling(emb, exact):
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    r4 = _recall(sim.ivf_topk(emb, q, k=K, n_clusters=16, n_probe=4), exact)
    assert r4 >= 0.3
    # probing every cluster must recover brute force exactly
    r_all = _recall(sim.ivf_topk(emb, q, k=K, n_clusters=16, n_probe=16), exact)
    assert r_all == 1.0
    assert r_all >= r4


def test_ivf_cluster_assignment_covers_all(emb):
    out = sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 2), k=3)
    assert out.count() == 2 * 3


def test_embedding_neardup_blockwise_matches_bruteforce(emb):
    """Blockwise grid kernel == numpy all-pairs, for several block
    counts (1 block degenerates to a single cell; more blocks than
    natural parallelism still covers every pair exactly once)."""
    import numpy as np

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    sims = np.round(xn @ xn.T, 6)
    t = 0.4
    want = {}
    n = len(ids)
    for i in range(n):
        for j in range(n):
            if ids[i] < ids[j] and sims[i, j] >= t:
                want[(int(ids[i]), int(ids[j]))] = float(sims[i, j])

    for n_blocks in (1, 4, 13):
        out = sim.embedding_neardup_pairs(emb, threshold=t, n_blocks=n_blocks)
        got = {(r["id_a"], r["id_b"]): r["sim"] for r in out.collect()}
        assert got == want, f"n_blocks={n_blocks}"


def test_embedding_neardup_is_distributed_no_driver_collect(emb):
    """The 100 TB posture: the plan must be a cogrouped Arrow kernel over
    the distributed table — no driver-side materialization of the big
    side (no LocalTableScan of embeddings rows, no CollectLimit), and the
    only local relation is the tiny broadcast block grid."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.plans.introspect import explain_str

    out = sim.embedding_neardup_pairs(emb, threshold=0.4, n_blocks=8)
    plan = explain_str(out, "simple")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CollectLimit" not in plan
    # no driver-side relation anywhere: the fan-out is a narrow explode
    assert "LocalTableScan" not in plan


def test_lsh_index_probe_prunes_partitions(spark, emb, tmp_path):
    """The 100 TB path made real: the at-rest LSH index is partitioned
    by bucket, and a probe's scan must carry PartitionFilters (static
    pruning — only the probed buckets' directories are read) while
    returning exactly what the in-memory lsh_topk returns."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.plans.introspect import explain_str

    path = str(tmp_path / "lsh_idx")
    sim.build_lsh_index(emb, path)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    probed = sim.lsh_probe(spark, path, q, k=K)

    plan = explain_str(probed, "formatted")
    assert "PartitionFilters" in plan and "bucket" in plan

    want = {(r["q_id"], r["n_id"], r["sim"]) for r in sim.lsh_topk(emb, q, k=K).collect()}
    got = {(r["q_id"], r["n_id"], r["sim"]) for r in probed.collect()}
    assert got == want

    # pruning is real: the probe reads strictly fewer partition dirs
    # than exist (2^planes × tables total, minus empties)
    import os

    all_parts = [d for d in os.listdir(path) if d.startswith("bucket=")]
    probe_buckets = {
        r["bucket"]
        for r in spark.read.parquet(path)
        .join(q.select(F.col("vec_id").alias("n_id")), "n_id")
        .select("bucket")
        .distinct()
        .collect()
    }
    assert len(probe_buckets) < len(all_parts)


def test_ivf_index_probe_prunes_partitions(spark, emb, exact, tmp_path):
    """IVF inverted lists as partition directories: probe scan must be
    partition-pruned and match the in-memory ivf_topk; probing every
    cluster recovers brute force."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.plans.introspect import explain_str

    path = str(tmp_path / "ivf_idx")
    sim.build_ivf_index(emb, path, n_clusters=16)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    probed = sim.ivf_probe(spark, path, q, k=K, n_probe=4)

    plan = explain_str(probed, "formatted")
    assert "PartitionFilters" in plan and "cluster" in plan

    want = {
        (r["q_id"], r["n_id"], r["sim"])
        for r in sim.ivf_topk(emb, q, k=K, n_clusters=16, n_probe=4).collect()
    }
    got = {(r["q_id"], r["n_id"], r["sim"]) for r in probed.collect()}
    assert got == want

    # n_probe = n_clusters ⇒ exact brute force through the index
    assert _recall(sim.ivf_probe(spark, path, q, k=K, n_probe=16), exact) == 1.0


def test_jaccard_pairs_nondyadic_threshold_boundary(spark):
    """Prefix length and length filter must use exact (decimal)
    arithmetic: t=0.28 with |A|=100, |B|=28 shingles sits exactly on
    both boundaries — double math gives ceil(0.28·100)=29 (prefix one
    short; the only shared prefix position of A is the 73rd) and
    greatest·t=28.000000000000004 > least=28 (length filter drops the
    pair). The qualifying J=28/100=0.28 pair must survive.
    """
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup

    words = [f"w{i:03d}" for i in range(102)]
    docs = [
        (1, " ".join(words)),        # 100 3-gram shingles
        (2, " ".join(words[:30])),   # its first 28 shingles: J = 28/100
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in neardup.jaccard_pairs(df, threshold=0.28).collect()
    }
    assert got == {(1, 2): pytest.approx(0.28, abs=1e-15)}


def test_simhash_pairs_matches_bruteforce(spark, sf_dir):
    """Band-bucketed simhash pairs must equal the naive all-pairs
    Hamming filter over the same signatures — banding with
    bands > max_hamming is complete by pigeonhole, so no pair may be
    lost, and Hamming values must match exactly."""
    from itertools import combinations

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

    docs = read_table(spark, sf_dir, "documents").limit(200)
    sigs = {
        r["doc_id"]: r["simhash_bits"]
        for r in neardup.portable_simhash(docs).collect()
    }
    assert all(len(s) == 32 and set(s) <= {"0", "1"} for s in sigs.values())
    want = {}
    for a, b in combinations(sorted(sigs), 2):
        h = sum(x != y for x, y in zip(sigs[a], sigs[b]))
        if h <= 3:
            want[(a, b)] = h
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in neardup.simhash_pairs(docs).collect()
    }
    assert got == want


def test_jaccard_pairs_duplicate_collapse_matches_bruteforce(spark):
    """The identical-shingle-set collapse inside jaccard_pairs must
    produce exactly the naive all-pairs result on a duplicate-heavy
    corpus: within-group pairs at J=1.0, cross-group member pairs at
    the representatives' J, singletons unaffected.

    Ground truth is brute-forced in Python from the engine's own
    shingle_table output, so tokenizer semantics stay out of scope.
    """
    from itertools import combinations

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup

    base = "the quick brown fox jumps over the lazy dog today"
    near = "the quick brown fox leaps over the lazy dog today"
    docs = [
        (1, base),
        (2, base),          # exact copy of 1
        (3, base),          # 3-member duplicate group
        (4, near),          # near-dup of the group
        (5, near),          # duplicate of the near-dup
        (6, "completely unrelated words about distributed query engines"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sets: dict[int, frozenset] = {}
    for r in neardup.shingle_table(df).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    threshold = 0.5
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            want[(a, b)] = j

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in neardup.jaccard_pairs(df, threshold=threshold).collect()
    }
    assert set(got) == set(want)
    for pair, j in want.items():
        assert got[pair] == pytest.approx(j, abs=1e-12)
    # the duplicate groups must surface as exact J=1.0 pairs
    assert got[(1, 2)] == 1.0 and got[(1, 3)] == 1.0 and got[(2, 3)] == 1.0
    assert got[(4, 5)] == 1.0


def test_jaccard_pairs_hot_bucket_cap_is_bit_identical(spark):
    """The salted skew join behind ``hot_bucket_cap`` must repartition
    the SAME pair space, never change it: a hot-shingle corpus (many
    short docs all sharing one boilerplate shingle, so the prefix
    posting list for it is huge relative to the cap) must produce
    bit-identical (id_a, id_b, jaccard) rows with cap=2, cap=1, and
    the uncapped plan."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup

    # every doc shares "common boilerplate header" (the hot shingle);
    # tails make distinct groups with real near-dup structure
    docs = [
        (i, f"common boilerplate header variant {i % 4} tail {i % 3}")
        for i in range(1, 25)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    base = sorted(
        map(tuple, neardup.jaccard_pairs(df, threshold=0.4).collect())
    )
    assert base, "fixture must produce pairs for the comparison to mean anything"
    for cap in (1, 2, 7):
        capped = sorted(
            map(
                tuple,
                neardup.jaccard_pairs(
                    df, threshold=0.4, hot_bucket_cap=cap
                ).collect(),
            )
        )
        assert capped == base

    with pytest.raises(ValueError, match="hot_bucket_cap"):
        neardup.jaccard_pairs(df, hot_bucket_cap=0).collect()


def test_cosine_topk_rejects_oversized_query_side(emb):
    """The broadcast-nested-loop contract is load-bearing: a big query
    side must fail fast, not silently build an n x n scan."""
    with pytest.raises(ValueError, match="broadcast"):
        sim.cosine_topk(emb, emb, k=K, max_query_rows=100)


def test_lsh_exhaustive_config_is_bruteforce(emb, exact):
    """Zero hyperplanes = one universal bucket: lsh_topk through its
    normal code path must equal exact brute force pair-for-pair."""
    out = sim.lsh_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=K, n_planes=0, n_tables=1
    )
    assert {(r["q_id"], r["n_id"]) for r in out.collect()} == exact


def test_ivf_exhaustive_probe_is_bruteforce(emb, exact):
    """n_probe == n_clusters probes every inverted list — exact."""
    out = sim.ivf_topk(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=K, n_clusters=8, n_probe=8
    )
    assert {(r["q_id"], r["n_id"]) for r in out.collect()} == exact


def test_ivf_training_sample_partition_invariant(emb, spark):
    """The bounded training sample is orderBy(id).limit(n) — centroids,
    and therefore approximate results, must not drift when the corpus
    arrives with a different partitioning."""
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    a = sim.ivf_topk(emb.repartition(1), q, k=K).collect()
    b = sim.ivf_topk(emb.repartition(7), q, k=K).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_jaccard_pairs_reliable_checkpoint_path(spark, reliable_tier_run):
    """A session built with spark.checkpoint.dir switches lineage
    truncation to the fault-tolerant reliable .checkpoint(); jaccard and
    simhash pairs must be identical to the local tier and checkpoint
    files must actually land under the directory."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup
    from reliable_tier import DOCS, checkpoint_files, rows

    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    reliable = reliable_tier_run["rows"]
    local = rows(neardup.jaccard_pairs(df, threshold=0.3))
    assert local and reliable["jaccard_pairs"] == local
    assert reliable["simhash_pairs"] == rows(neardup.simhash_pairs(df))
    assert checkpoint_files(reliable_tier_run["ckpt"])


def test_semantic_dedup_matches_bruteforce(spark):
    """semantic_dedup == the naive per-cluster pairwise prune computed
    in numpy from the operator's own assignments: planted near-copies
    must drop (keep the lowest id), isolated vectors must survive, and
    the greedy rule must match exactly."""
    import numpy as np

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.clustering import (
        assign_clusters,
        kmeans_lloyd,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(12, 8))
    vecs = []
    for i, v in enumerate(base):
        vecs.append((i * 10, [float(x) for x in v]))
        if i % 3 == 0:  # planted near-copy: tiny perturbation
            vecs.append((i * 10 + 1, [float(x) for x in v + rng.normal(scale=1e-3, size=8)]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    t = 0.98
    got = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(df, k=4, iters=2, threshold=t).collect()
    }
    # brute-force replay from the SAME clustering (k-means itself is
    # locked by tests/test_clustering.py)
    _, cents = kmeans_lloyd(df, k=4, iters=2)
    asg = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(df, cents).collect()
    }
    v = {i: np.array(x) for i, x in vecs}
    want = {}
    for i in sorted(v):
        drop = any(
            asg[j] == asg[i]
            and j < i
            and round(
                float(v[i] @ v[j] / (np.linalg.norm(v[i]) * np.linalg.norm(v[j]))), 6
            ) >= t
            for j in v
        )
        want[i] = (asg[i], not drop)
    assert got == want
    # every planted near-copy dropped, every base vector kept
    assert all(not got[i * 10 + 1][1] or got[i * 10][0] != got[i * 10 + 1][0]
               for i in range(0, 12, 3))
    assert all(got[i * 10][1] for i in range(12))


def test_semantic_dedup_info_reports_k_resolution(spark):
    """The ``info`` out-dict mirrors how k was resolved: no target →
    branch not engaged; target that resolves below the floor → engaged
    but floor k wins; target that resolves above → engaged and the
    data-scaled k wins. The engaged-at-same-k case must keep the exact
    kept set of the fixed-k run (the property the
    ``semantic_dedup_scaled`` registry entry's oracle relies on)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    info: dict = {}
    fixed = semantic_dedup(df, k=4, iters=0, threshold=0.99, info=info)
    assert info == {"k_requested": 4, "target_engaged": False, "k_effective": 4}

    # n=24, target=6 → ceil(24/6)=4 == floor: engaged, k unchanged,
    # result identical to the fixed-k run
    info = {}
    same = semantic_dedup(
        df, k=4, iters=0, threshold=0.99, target_cluster_size=6, info=info
    )
    assert info == {
        "k_requested": 4,
        "target_engaged": True,
        "n": 24,
        "k_from_target": 4,
        "k_effective": 4,
    }
    assert sorted(map(tuple, same.collect())) == sorted(map(tuple, fixed.collect()))

    # n=24, target=3 → ceil(24/3)=8 > floor: the data-scaled k wins
    info = {}
    out = semantic_dedup(
        df, k=4, iters=0, threshold=0.99, target_cluster_size=3, info=info
    )
    assert info["k_effective"] == info["k_from_target"] == 8
    assert out.select(F.max("cluster")).first()[0] == 7


def test_embedding_neardup_survives_full_column_pruning(spark, sf_dir):
    """A parent plan that needs NO output columns (count) must not let
    Catalyst prune the cogroup children's payload: the two cell sides
    share lineage, and same-name/same-id attributes were deduped onto
    the left child, handing the UDF a right block with only key
    columns (fixed by fresh right-side names)."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.similarity import (
        embedding_neardup_pairs,
    )
    from bigbookapi_etl_with_airflow_and_snowflake_spark.sources.files import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(emb, threshold=0.4)
    assert out.count() == len(out.collect())


def test_jaccard_capped_entry_is_salted_and_exact_on_testdata(spark, sf_dir):
    """The registry's ``jaccard_pairs_capped`` entry must (a) produce
    the EXACT ``jaccard_pairs`` result on the real corpus and (b)
    actually route through the salted skew join. Engagement proof:
    every result pair is witnessed by a shared prefix shingle, so that
    shingle's posting list holds >= 2 reps — with cap=1 its
    ``__nsalt = ceil(len/1) >= 2 > 1``. The entry's plan must carry the
    build-side salt replication (explode over sequence(0, nsalt-1))."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark import queries as q
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import neardup

    base_fn, _ = q.REGISTRY["jaccard_pairs"]
    capped_fn, capped_sql = q.REGISTRY["jaccard_pairs_capped"]
    assert capped_sql == q.REGISTRY["jaccard_pairs"][1]  # same oracle

    want = sorted(map(tuple, base_fn(spark, sf_dir).collect()))
    assert want, "corpus must yield pairs for engagement to be provable"
    got = sorted(map(tuple, capped_fn(spark, sf_dir).collect()))
    assert got == want

    # cap=1: every pair-witnessing posting list (>= 2 reps) splits
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cap1 = sorted(
        map(
            tuple,
            neardup.jaccard_pairs(docs, threshold=0.5, hot_bucket_cap=1).collect(),
        )
    )
    assert cap1 == want

    # the salt machinery is in the entry's optimized plan
    plan = (
        capped_fn(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "sequence(" in plan and "__salt" in plan


def test_hamming_bits_param_and_mixed_width_raises(spark):
    """``bits=`` skips the width-inference job and must give identical
    results; a mixed-width signature column raises loudly instead of
    silently null-padding the comparison."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.neardup import (
        hamming_bits_pairs,
    )

    sig = spark.createDataFrame(
        [(1, "00001111"), (2, "00001110"), (3, "11110000"), (4, "00001111")],
        ["doc_id", "bits"],
    )
    inferred = sorted(
        map(tuple, hamming_bits_pairs(sig, "doc_id", "bits", 4, 3).collect())
    )
    explicit = sorted(
        map(
            tuple,
            hamming_bits_pairs(sig, "doc_id", "bits", 4, 3, bits=8).collect(),
        )
    )
    assert inferred == explicit
    assert (1, 4, 0) in explicit and (1, 2, 1) in explicit

    mixed = spark.createDataFrame(
        [(1, "00001111"), (2, "0000")], ["doc_id", "bits"]
    )
    with pytest.raises(Exception, match="non-uniform signature width"):
        hamming_bits_pairs(mixed, "doc_id", "bits", 4, 3, bits=8).collect()


def test_hamming_max_group_size_is_a_loud_bound(spark):
    """``max_group_size=`` turns a pathological identical-signature
    group (g members → one g-element array row and g·(g−1)/2 inherent
    within-pairs) into a loud error at the collapse stage instead of an
    executor OOM stages later; a bound the data satisfies changes
    nothing."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.neardup import (
        hamming_bits_pairs,
    )

    sig = spark.createDataFrame(
        [(i, "00001111") for i in range(5)] + [(10, "11110000")],
        ["doc_id", "bits"],
    )
    ok = sorted(
        map(
            tuple,
            hamming_bits_pairs(
                sig, "doc_id", "bits", 4, 3, bits=8, max_group_size=5
            ).collect(),
        )
    )
    base = sorted(
        map(tuple, hamming_bits_pairs(sig, "doc_id", "bits", 4, 3, bits=8).collect())
    )
    assert ok == base and len(ok) == 10  # C(5,2) within-pairs

    with pytest.raises(Exception, match="exceeds max_group_size=4"):
        hamming_bits_pairs(
            sig, "doc_id", "bits", 4, 3, bits=8, max_group_size=4
        ).collect()

    with pytest.raises(ValueError, match="max_group_size"):
        hamming_bits_pairs(
            sig, "doc_id", "bits", 4, 3, bits=8, max_group_size=0
        )


def test_semantic_dedup_target_cluster_size_scales_k(spark, monkeypatch):
    """target_cluster_size= bounds per-task memory by scaling k with
    the corpus (k = max(k, ceil(n/target))): a corpus bigger than
    k·target must cluster finer, a small one must be untouched (same
    result as the fixed-k call), and the chosen k is observable via the
    kmeans call."""
    import numpy as np

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators import (
        clustering,
        similarity as sim,
    )

    rows = [
        (i, [float((i * 37 + j * 11) % 19) for j in range(4)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    seen = {}
    orig = clustering.kmeans_lloyd

    def spy(src, k, iters, id_col, vec_col, persist=True):
        seen["k"] = k
        return orig(
            src, k=k, iters=iters, id_col=id_col, vec_col=vec_col, persist=persist
        )

    # semantic_dedup imports kmeans_lloyd from .clustering at call time
    monkeypatch.setattr(clustering, "kmeans_lloyd", spy)

    base = sorted(
        map(tuple, sim.semantic_dedup(df, k=4, iters=0, threshold=0.9).collect())
    )
    assert seen["k"] == 4

    # target smaller than n/k: k scales to ceil(300/50) = 6
    sim.semantic_dedup(
        df, k=4, iters=0, threshold=0.9, target_cluster_size=50
    ).collect()
    assert seen["k"] == 6

    # target larger than n: k untouched, result identical to fixed-k
    same = sorted(
        map(
            tuple,
            sim.semantic_dedup(
                df, k=4, iters=0, threshold=0.9, target_cluster_size=1000
            ).collect(),
        )
    )
    assert seen["k"] == 4
    assert same == base

    with pytest.raises(ValueError, match="target_cluster_size"):
        sim.semantic_dedup(df, target_cluster_size=0).collect()


def test_embedding_neardup_target_block_rows_scales_grid(spark):
    """target_block_rows= must scale the block grid with the corpus and
    keep the exact pair set identical at any B."""
    import random

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = sorted(
        map(tuple, embedding_neardup_pairs(df, threshold=0.8).collect())
    )
    assert base  # fixture must produce pairs
    # scaled grid (ceil(200/10) = 20 blocks) — identical exact pair set
    scaled = sorted(
        map(
            tuple,
            embedding_neardup_pairs(
                df, threshold=0.8, target_block_rows=10
            ).collect(),
        )
    )
    assert scaled == base
    # oversized target leaves the default grid untouched
    same = sorted(
        map(
            tuple,
            embedding_neardup_pairs(
                df, threshold=0.8, target_block_rows=10_000
            ).collect(),
        )
    )
    assert same == base

    with pytest.raises(ValueError, match="target_block_rows"):
        embedding_neardup_pairs(df, target_block_rows=0).collect()


def test_semantic_dedup_rejects_nonpositive_n_rows(spark):
    """n_rows is trusted as the exact df.count() (re-counting would
    defeat passing it); an obviously-wrong non-positive value is
    rejected loudly instead of silently shrinking k_from_target back
    into the per-task memory cliff."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [float(i % 4), 1.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_rows must be the exact positive"):
        semantic_dedup(df, k=2, iters=0, target_cluster_size=4, n_rows=0)
    # a correct explicit count matches the self-counted run
    info_a, info_b = {}, {}
    a = semantic_dedup(df, k=2, iters=0, target_cluster_size=4, info=info_a)
    b = semantic_dedup(
        df, k=2, iters=0, target_cluster_size=4, n_rows=8, info=info_b
    )
    assert info_a == info_b
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
