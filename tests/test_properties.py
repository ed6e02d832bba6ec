"""Property tests (SURVEY.md §5.2): coercion-semantics parity with the
reference's Python/pandas behavior, and operator equivalence against
naive implementations on randomized inputs.

Spark sessions are expensive per-example, so each property batches all
hypothesis-generated cases into ONE DataFrame and checks the whole
batch in a single job.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.asof import asof_join
from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.rangejoin import range_join


# --- T5/T7 coercion parity: cast semantics == int(float(x)) / to_numeric ---

def _ref_int_of_float(s):
    """The reference's id coercion (scripts/transform.py:43):
    int(float(x)) if x not null else None; ValueError → None (the row
    would crash the reference, our engine nulls it — documented)."""
    if s is None:
        return None
    try:
        f = float(s)
        if math.isnan(f) or math.isinf(f):
            return None
        return int(f)
    except ValueError:
        return None


id_strings = st.one_of(
    st.none(),
    st.integers(-(2**53), 2**53).map(str),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
    st.text(max_size=8),  # garbage → null
    st.sampled_from(["3.0", "3.9", "-3.9", " 7 ", "1e3", "0x10", "", "NaN", "inf"]),
)


@settings(max_examples=20, deadline=None)
@given(st.lists(id_strings, min_size=1, max_size=50))
def test_try_cast_matches_reference_coercion(spark, xs):
    spark = spark
    df = spark.createDataFrame([(x,) for x in xs], "s string")
    got = [
        r["v"]
        for r in df.select(
            F.col("s").try_cast("double").try_cast("long").alias("v")
        ).collect()
    ]
    want = [_ref_int_of_float(x) for x in xs]
    for g, w, x in zip(got, want, xs):
        # Spark parses a few forms Python float() rejects or vice versa
        # ("0x10", locale text) — both engines must agree null-or-value;
        # where both parse, values must match exactly.
        if g is not None and w is not None:
            assert g == w, (x, g, w)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.text(max_size=5),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_numeric_coerce_nulls_garbage(spark, xs):
    """pd.to_numeric(errors='coerce') parity: garbage → null, numbers
    survive (reference scripts/transform.py:45)."""
    spark = spark
    rows = [(str(x) if x is not None else None,) for x in xs]
    df = spark.createDataFrame(rows, "s string")
    got = [r["v"] for r in df.select(F.col("s").try_cast("double").alias("v")).collect()]
    for x, g in zip(xs, got):
        if isinstance(x, float):
            assert g is not None and abs(g - float(str(x))) < 1e-6
        elif x is None:
            assert g is None


# --- operator equivalence vs naive forms --------------------------------


@settings(max_examples=5, deadline=None)
@given(
    st.lists(  # trades: (key, t)
        st.tuples(st.sampled_from("AB"), st.integers(0, 100)), min_size=1, max_size=25
    ),
    st.lists(  # quotes: (key, t, px)
        st.tuples(st.sampled_from("AB"), st.integers(0, 100), st.integers(0, 999)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_matches_naive(spark, trades, quotes):
    spark = spark
    tdf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(trades)], "k string, t long, tid long"
    )
    # dedupe quotes per (k, t) keeping max px — matches operator tiebreak
    qbest: dict = {}
    for k, t, px in quotes:
        qbest[(k, t)] = max(qbest.get((k, t), -1), px)
    qdf = spark.createDataFrame(
        [(k, t, float(px)) for (k, t), px in qbest.items()] or [("Z", -1, 0.0)],
        "k string, t long, px double",
    )
    got = {
        r["tid"]: r["px_asof"]
        for r in asof_join(tdf, qdf, on="t", by=["k"], payload_cols=["px"]).collect()
    }
    for i, (k, t) in enumerate(trades):
        # naive: latest qt <= t wins
        latest = max((qt for (qk, qt) in qbest if qk == k and qt <= t), default=None)
        want = float(qbest[(k, latest)]) if latest is not None else None
        assert got[i] == want, (i, k, t, got[i], want)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.tuples(st.sampled_from("AB"), st.integers(0, 500)), min_size=1, max_size=20),
    st.lists(
        st.tuples(st.sampled_from("AB"), st.integers(0, 500), st.integers(0, 200)),
        min_size=1,
        max_size=15,
    ),
)
def test_range_join_matches_naive(spark, points, spans):
    spark = spark
    pdf = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(points)], "k string, v long, pid long"
    )
    idf = spark.createDataFrame(
        [(k, lo, lo + w, j) for j, (k, lo, w) in enumerate(spans)],
        "k string, lo long, hi long, iid long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(pdf, idf, "v", "lo", "hi", by=["k"], bucket_width=64).collect()
    )
    want = sorted(
        (i, j)
        for i, (pk, v) in enumerate(points)
        for j, (ik, lo, w) in enumerate(spans)
        if pk == ik and lo <= v <= lo + w
    )
    assert got == want


# ---------------------------------------------------------------------------
# connected_components vs a reference union-find
# ---------------------------------------------------------------------------


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min node id per component
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_matches_union_find(spark, seed):
    import random

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(seed)
    n_nodes = 60
    edges = sorted(
        {
            tuple(sorted(rng.sample(range(n_nodes), 2)))
            for _ in range(40 + seed * 17)
        }
    )
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a: long, id_b: long"
    )
    got = {
        r["node"]: r["label"] for r in connected_components(pairs).collect()
    }
    want = _union_find_labels(edges)
    # union-find roots are already min ids because unions always attach
    # the larger root under the smaller
    assert got == want


def test_connected_components_reliable_checkpoint_path(spark, reliable_tier_run):
    """A session built with spark.checkpoint.dir flips every per-round
    materialization to reliable .checkpoint(); labels must be identical
    to the local tier and checkpoint files must land under the dir."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.dedup import (
        connected_components,
    )
    from reliable_tier import PAIRS, checkpoint_files, rows

    pairs = spark.createDataFrame(PAIRS, ["id_a", "id_b"])
    local = rows(connected_components(pairs))
    assert local and reliable_tier_run["rows"]["connected_components"] == local
    assert checkpoint_files(reliable_tier_run["ckpt"])


def test_passage_dedup_matches_naive(spark):
    """passage_dedup must equal the obvious single-threaded keep-first
    over k-word windows: global first occurrence survives, later ones
    (cross-doc or intra-doc) are cut, docs rebuilt in passage order."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.dedup import (
        passage_dedup,
    )

    k = 3
    docs = [
        (1, "a b c d e f g h"),            # passages: "a b c","d e f","g h"
        (2, "a b c x y z"),                # "a b c" duplicates doc 1
        (3, "d e f d e f"),                # cross-doc dup + intra-doc dup
        (4, "a b c d e f g h"),            # full duplicate of doc 1
        (5, "unique words only here now"),
    ]
    seen: set[str] = set()
    want = {}
    for did, text in docs:
        words = text.split(" ")
        parts = [
            " ".join(words[i : i + k]) for i in range(0, len(words), k)
        ]
        kept = []
        dropped = 0
        for p in parts:
            if p in seen:
                dropped += 1
            else:
                seen.add(p)
                kept.append(p)
        want[did] = (len(parts), dropped, " ".join(kept))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dropped"], r["clean_text"])
        for r in passage_dedup(df, "text", "doc_id", k=k).collect()
    }
    assert got == want
    assert got[4] == (3, 3, "")  # fully-duplicated doc → empty rebuild

    with pytest.raises(ValueError, match="passage length"):
        passage_dedup(df, "text", "doc_id", k=0)


def test_boilerplate_removal_matches_naive(spark):
    """Frequency-threshold passage filtering: passages in > max_df
    distinct docs vanish from EVERY doc (no survivor), rare passages
    stay, intra-doc repeats count once toward document frequency."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.dedup import (
        boilerplate_removal,
    )

    k, max_df = 2, 2
    chrome = "cookie notice"
    docs = [
        (1, f"{chrome} real content one"),
        (2, f"{chrome} other words here"),
        (3, f"{chrome} third body text"),          # chrome df=3 > 2 → boiler
        (4, "rare pair stays put"),
        (5, f"{chrome} {chrome} solo tail"),        # intra-doc repeat: df counts docs
    ]
    from collections import defaultdict

    parts = {}
    for did, text in docs:
        ws = text.split(" ")
        parts[did] = [" ".join(ws[i : i + k]) for i in range(0, len(ws), k)]
    dfreq = defaultdict(set)
    for did, ps in parts.items():
        for p in ps:
            dfreq[p].add(did)
    want = {}
    for did, ps in parts.items():
        kept = [p for p in ps if len(dfreq[p]) <= max_df]
        want[did] = (len(ps), len(ps) - len(kept), " ".join(kept))

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_passages"], r["n_boilerplate"], r["clean_text"])
        for r in boilerplate_removal(df, "text", "doc_id", k=k, max_df=max_df).collect()
    }
    assert got == want
    # chrome appears in 4 distinct docs → removed everywhere, incl. both
    # copies in doc 5
    assert got[1][1] == 1 and got[5][1] == 2
    assert got[4] == (2, 0, "rare pair stays put")

    with pytest.raises(ValueError, match="max_df"):
        boilerplate_removal(df, "text", "doc_id", k=2, max_df=0)


# --- round-5: snapshot-diff apply law, prefix-sum equivalence, strip_html ---


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.one_of(st.none(), st.integers(0, 5))),
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 30), st.one_of(st.none(), st.integers(0, 5))),
        max_size=25,
    ),
)
@settings(max_examples=20, deadline=None)
def test_snapshot_diff_apply_roundtrip(spark, old_rows, new_rows):
    """Applying the diff to the old snapshot reconstructs the new one:
    (old − deleted − updated) ∪ (inserted ∪ updated-new) == new."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.cdc import (
        snapshot_diff,
    )

    dedup_old = {k: v for k, v in old_rows}
    dedup_new = {k: v for k, v in new_rows}
    old = spark.createDataFrame(
        [(k, v) for k, v in dedup_old.items()] or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    new = spark.createDataFrame(
        [(k, v) for k, v in dedup_new.items()] or [(None, None)], "k int, v int"
    ).filter(F.col("k").isNotNull())
    diff = {r["k"]: r for r in snapshot_diff(old, new, ["k"]).collect()}

    rebuilt = dict(dedup_old)
    for k, r in diff.items():
        if r["change_type"] == "delete":
            rebuilt.pop(k)
        else:  # insert or update
            rebuilt[k] = r["new_v"]
    assert rebuilt == dedup_new


@given(st.lists(st.integers(1, 100), min_size=1, max_size=60), st.integers(2, 9))
@settings(max_examples=15, deadline=None)
def test_prefix_sum_matches_cumsum(spark, weights, nparts):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.sampling import (
        distributed_prefix_sum,
    )

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "k int, w int").repartition(3)
    got = {
        r["k"]: r["cum"]
        for r in distributed_prefix_sum(df, "k", "w", num_partitions=nparts).collect()
    }
    run = 0
    for i, w in enumerate(weights):
        run += w
        assert got[i] == run


@given(st.text(alphabet="ab<>/&; npscrit=\"'-!", max_size=60))
@settings(max_examples=40, deadline=None)
def test_strip_html_idempotent_and_tagfree(spark, s):
    """strip(strip(x)) == strip(x) up to entity re-decoding, and the
    output never contains a full <...> tag."""
    import re

    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.text import (
        strip_html,
    )

    df = spark.createDataFrame([(s,)], "t string")
    once = df.select(strip_html(F.col("t")).alias("o")).first()["o"]
    assert not re.search(r"<[^>]+>", once)


# ---------------------------------------------------------------------------
# file-skipping safety: pruning may NEVER drop a file holding in-range rows
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-(2**62), max_value=2**62),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=-(2**62), max_value=2**62),
    st.integers(min_value=0, max_value=2**10),
)
def test_prune_never_drops_qualifying_files(spark, tmp_path_factory, files, lo, span):
    """Random int64 file contents (including beyond-2^53 magnitudes
    where double conversion rounds) and a random inclusive range: every
    file containing at least one in-range value must survive
    prune_manifest_files — conservative-keep is the operator's safety
    contract, double rounding notwithstanding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigbookapi_etl_with_airflow_and_snowflake_spark.sinks.versioned import (
        prune_manifest_files,
    )

    hi = lo + span
    d = tmp_path_factory.mktemp("prune_prop")
    paths = []
    for i, vals in enumerate(files):
        p = str(d / f"f{i}.parquet")
        pq.write_table(pa.table({"v": pa.array(vals, pa.int64())}), p)
        paths.append(p)
    kept = set(prune_manifest_files(spark, paths, {"v": (lo, hi)}))
    for p, vals in zip(paths, files):
        if any(lo <= v <= hi for v in vals):
            assert p in kept, (vals, lo, hi)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6), min_size=3, max_size=30
    ),
    st.integers(min_value=1, max_value=4),
)
def test_bpe_batched_encode_reassembles_words(spark, words, batch_k):
    """For any corpus and batch width, encoding with the learned merges
    must yield tokens that concatenate back to each word + the
    end-of-word marker — merges can never lose or invent characters."""
    from bigbookapi_etl_with_airflow_and_snowflake_spark.operators.bpe import (
        END,
        bpe_encode,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i in range(2)], "doc_id long, text string"
    )
    merges = bpe_train(df, n_merges=6, batch_k=batch_k)
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode(df, merges, id_col="doc_id").collect()
    }
    expect_stream = "".join(w + END for w in words)
    for doc_id in (0, 1):
        assert "".join(got[doc_id]) == expect_stream
