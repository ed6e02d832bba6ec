"""Near-duplicate detection (SURVEY.md §2.5 N2): n-gram Jaccard,
MinHash + LSH banding, SimHash.

Scale design
------------
- The O(n²) pair space is never materialized: candidate pairs come from
  an *inverted index* — an equi-self-join on the bucket key (shared
  shingle hash / MinHash band / SimHash value). One shuffle on the
  bucket key, pair volume proportional to actual collisions.
- Expression staging matters: higher-order functions run interpreted
  (no whole-stage codegen, no common-subexpression elimination), so the
  token/shingle arrays are bound to real projection columns once per
  row, never re-derived inside downstream lambdas. This is the
  difference between O(rows) and O(rows × shingles) regex splits.
- MinHash values use md5 (engine-portable, uniformly distributed), so
  signatures computed here match signatures computed by any other system
  on the same text — the dedup keys are infrastructure-independent, and
  band keys are uniform → the bucket shuffle is skew-free.
"""

from __future__ import annotations

from decimal import ROUND_FLOOR, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import bind
from ..session import materialize
from .text import tokens, word_shingles


def _threshold_dec(threshold: float) -> Column:
    """The similarity threshold as an exact decimal literal, rounded
    DOWN at 12 dp — candidate pruning must never use double arithmetic.

    ``ceil(t * n)`` in doubles overshoots for thresholds whose FP
    product lands epsilon-high (0.28 × 100 → 28.000000000000004 →
    ceil 29, exact 28), silently shortening the prefix and tightening
    the length filter — qualifying pairs get dropped. Decimal × int is
    exact; rounding the literal down keeps the pruning conservative
    (at worst one extra candidate, never a lost pair) even for
    thresholds that don't fit 12 decimal places.
    """
    t = Decimal(threshold).quantize(Decimal("1e-12"), rounding=ROUND_FLOOR)
    return F.lit(str(t)).cast("decimal(14,12)")


def _bucket_pairs(keyed: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Inverted-index candidate pairs: (id_a, id_b) per shared key.

    Implemented as an equi-self-join on the bucket key with ``id_a <
    id_b`` — a plain hash join whose output volume equals actual
    collisions, never n². (A collect_list + in-bucket pair-explosion
    variant was measured 2-3× slower at sf0.1: array building and the
    nested-transform explode run interpreted, while the self-join stays
    in codegen'd hash-join machinery.)

    Input: one (key, id) row per membership. Output keeps one row per
    (key, pair) — callers dedup or count as their semantics require.
    """
    a = keyed.select(F.col(id_col).alias("id_a"), key_col)
    b = keyed.select(F.col(id_col).alias("id_b"), key_col)
    return a.join(b, key_col).filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams per doc. One bound
    shingling expression per row (see functions/expr.py) feeding a
    single explode."""
    return df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity, prefix-filtered: keeps pairs
    with J ≥ threshold — identical results to the naive
    every-pair-sharing-a-shingle join, at a fraction of the pair volume.
    Its one materialization point takes the session's tier (see
    ``session.materialize``): executor-local by default, the reliable
    checkpoint when the session has ``spark.checkpoint.dir``.

    Plan: rarity-ordered shingle arrays per doc → inverted index over
    each doc's *prefix* (the |S| − ⌈t·|S|⌉ + 1 rarest shingles; by the
    prefix-filtering principle any pair with J ≥ t collides there) →
    exact |∩| via array_intersect per surviving candidate → J = |∩| /
    (|A|+|B|−|∩|), an IEEE division of exact ints.
    Output: (id_a, id_b, jaccard), id_a < id_b.

    ``hot_bucket_cap`` bounds the worst-case HOT-SHINGLE bucket: the
    df-ascending prefix ordering makes large posting lists rare, but an
    adversarial corpus (one boilerplate shingle shared by millions of
    short docs whose prefixes hold nothing rarer) can still put one
    giant list behind a single join key — one straggler task building
    an O(list²) pair block. With a cap, every prefix posting list
    larger than ``cap`` is split into ⌈list/cap⌉ salt buckets (probe
    side salted by doc id, build side replicated across the key's salt
    range — the standard replicated skew join), so no task ever holds
    more than ~``cap`` build rows per key. Results are bit-identical
    (each candidate pair lands in exactly one salt bucket of its
    witness hash); only the partitioning changes. The cap cannot shrink
    the *inherent* candidate volume of exact Jaccard — when the pair
    count itself is the problem, spill to the approximate tier
    (:func:`minhash_band_pairs`) and verify survivors exactly.
    """
    sh = shingle_table(df, text_col, id_col, n)
    # shuffle the 8-byte shingle hash, not the shingle text (collision
    # odds over the whole corpus ~2⁻⁶⁴ per co-occurring shingle pair —
    # immaterial next to the I/O halved per shuffled row)
    hashed = sh.select(id_col, F.xxhash64("shingle").alias("__h"))
    # Prefix filtering (PPJoin / Vernica et al.): under any global total
    # order of shingles, two sets with J ≥ t MUST share a shingle inside
    # each one's first (|S| − ⌈t·|S|⌉ + 1) shingles. Ordering by
    # ascending document frequency puts the *rarest* shingles in the
    # prefix, so the inverted index is built over rare shingles only —
    # the hot-shingle pair explosion (the quadratic term at 100 TB)
    # never happens, and the result is provably identical.
    # document frequency via a window over the shingle-hash partition:
    # one shuffle of the shingle table — and, crucially, ONE run of the
    # shingling projection. (An aggregate-then-join-back variant was
    # measured 1.3 s slower at sf0.1: the join's probe side re-runs the
    # regex/shingle pipeline a second time, which costs more than the
    # window's in-partition sort saves.)
    from pyspark.sql import Window as _W

    with_df = hashed.withColumn(
        # int, not long: halves the struct's df slot in the per-doc
        # collect_list shuffle (2^31 docs-per-shingle is beyond any
        # corpus this partitioning survives anyway)
        "__df", F.count("*").over(_W.partitionBy("__h")).cast("int")
    )
    docs = (
        with_df
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("__df", "__h"))).alias("__s"))
        .select(
            F.col(id_col),
            F.col("__s"),
            F.transform("__s", lambda s: s["__h"]).alias("__sh"),
            F.size("__s").alias("n_sh"),
        )
    )
    # Duplicate-aware collapse: Jaccard is a function of the shingle
    # SET, so docs with identical sets (exact copies, reorderings) are
    # grouped and only one representative enters the quadratic-ish
    # candidate stage. Within-group pairs have J = 1.0 by construction;
    # cross-group member pairs inherit their reps' exact J. On
    # duplicate-heavy corpora (the common 100 TB reality) this removes
    # the clique term entirely; results are identical.
    #
    # One aggregation carries everything downstream needs — the rep id,
    # the sorted member list, and the (identical-across-members) shingle
    # array — so the whole query hangs off a single materialized table.
    # Lineage is truncated here via materialize (see its docstring for
    # the localCheckpoint-vs-reliable-checkpoint trade); a session with
    # spark.checkpoint.dir gets the fault-tolerant tier at 100 TB.
    # group key = the sorted shingle-hash array itself (arrays are
    # hashable shuffle keys; ~400 B vs a 32-B md5, immaterial at one row
    # per doc, and it drops an md5-over-concat projection per row)
    groups = materialize(
        docs.groupBy("__sh").agg(
            F.min(id_col).alias("__rep"),
            F.sort_array(F.collect_list(id_col)).alias("__members"),
            F.first("__s").alias("__s"),
            F.first("n_sh").alias("n_sh"),
        )
    )
    rep_docs = groups.select("__rep", "__sh", "n_sh")

    t_dec = _threshold_dec(threshold)
    prefix_len = F.col("n_sh") - F.ceil(t_dec * F.col("n_sh")).cast("int") + F.lit(1)
    # Explode the (df, hash) struct prefix and keep only shingles with
    # corpus document frequency ≥ 2: a df=1 shingle exists in exactly
    # one document, so it cannot witness a cross-document collision —
    # dropping it loses no candidate pair, and on corpora where most
    # shingles are unique (the common case) it shrinks the inverted
    # index by an order of magnitude before the self-join.
    prefix = (
        groups.select(
            F.col("__rep"),
            F.col("n_sh"),
            F.posexplode(F.slice("__s", F.lit(1), prefix_len)).alias("__pos", "__st"),
        )
        .filter(F.col("__st.__df") >= 2)
        .select("__rep", "n_sh", "__pos", F.col("__st.__h").alias("__h"))
    )
    # Two filters ride the candidate join (both decimal-exact — see
    # _threshold_dec):
    # - length: J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t
    # - PPJoin positional bound: both arrays share one global (df, h)
    #   order, so for the FIRST common prefix shingle (0-based position
    #   p_a in A, p_b in B) no earlier element is common and the overlap
    #   can't exceed min(|A|−p_a, |B|−p_b). J ≥ t needs overlap·(1+t) ≥
    #   t·(|A|+|B|); prune when even the bound can't reach it. Position
    #   bounds tighten monotonically along the prefix, so if the first
    #   common shingle's row fails, every row of the pair fails — the
    #   filter-then-distinct keeps exactly the PPJoin candidate set.
    one_plus_t = t_dec + F.lit(1)
    if hot_bucket_cap is not None:
        # Salted skew join for over-cap posting lists. __cnt rides a
        # window over the __h partition (the join shuffles by __h
        # anyway, so this adds a sort, not a new exchange); nsalt = 1
        # for every cold key, so the cold path's row volume and pair
        # set are untouched.
        from pyspark.sql import Window as _W2

        cap = int(hot_bucket_cap)
        if cap < 1:
            raise ValueError(f"hot_bucket_cap must be >= 1, got {cap}")
        prefix = prefix.withColumn(
            "__nsalt",
            F.ceil(
                F.count("*").over(_W2.partitionBy("__h")) / F.lit(cap)
            ).cast("int"),
        )
        pa = prefix.select(
            F.col("__rep").alias("ra"), F.col("n_sh").alias("__na"),
            F.col("__pos").alias("__pa"), "__h",
            # probe side: each row to its own deterministic salt bucket
            F.pmod(F.xxhash64("__rep"), F.col("__nsalt")).cast("int").alias("__salt"),
        )
        pb = prefix.select(
            F.col("__rep").alias("rb"), F.col("n_sh").alias("__nb"),
            F.col("__pos").alias("__pb"), "__h",
            # build side: replicated across the key's whole salt range,
            # so pair (a, b) materializes exactly once — in a's bucket
            F.explode(F.sequence(F.lit(0), F.col("__nsalt") - 1)).alias("__salt"),
        )
        join_keys = ["__h", "__salt"]
    else:
        pa = prefix.select(
            F.col("__rep").alias("ra"), F.col("n_sh").alias("__na"),
            F.col("__pos").alias("__pa"), "__h",
        )
        pb = prefix.select(
            F.col("__rep").alias("rb"), F.col("n_sh").alias("__nb"),
            F.col("__pos").alias("__pb"), "__h",
        )
        join_keys = ["__h"]
    cand = (
        pa.join(pb, join_keys)
        .filter(
            (F.col("ra") < F.col("rb"))
            & (F.greatest("__na", "__nb") * t_dec <= F.least("__na", "__nb"))
            & (
                F.least(F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb"))
                * one_plus_t
                >= (F.col("__na") + F.col("__nb")) * t_dec
            )
        )
        .select("ra", "rb")
        .distinct()
    )
    a = rep_docs.select(
        F.col("__rep").alias("ra"), F.col("__sh").alias("__sh_a"), F.col("n_sh").alias("n_a")
    )
    b = rep_docs.select(
        F.col("__rep").alias("rb"), F.col("__sh").alias("__sh_b"), F.col("n_sh").alias("n_b")
    )
    n_inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    rep_pairs = (
        cand.join(a, "ra")
        .join(b, "rb")
        .select(
            "ra",
            "rb",
            (
                n_inter.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_inter)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # Member expansion in ONE pass: a group's self-pair (rep, rep, 1.0)
    # stands for its within-group clique, so unioning self-pairs with
    # the scored rep pairs lets a single join-then-explode expand both
    # cases — 2 joins total where the round-1 form chained 6 (two
    # rep→group hops + two group→member hops + the intra self-join).
    rep_self = groups.filter(F.size("__members") > 1).select(
        F.col("__rep").alias("ra"),
        F.col("__rep").alias("rb"),
        F.lit(1.0).alias("jaccard"),
    )
    ga = groups.select(F.col("__rep").alias("ra"), F.col("__members").alias("__ma"))
    gb = groups.select(F.col("__rep").alias("rb"), F.col("__members").alias("__mb"))
    return (
        rep_pairs.unionByName(rep_self)
        .join(ga, "ra")
        .join(gb, "rb")
        .select("ra", "rb", "jaccard", F.explode("__ma").alias("__x"), "__mb")
        .select("ra", "rb", "jaccard", "__x", F.explode("__mb").alias("__y"))
        # self-pair expansion emits each unordered member pair twice
        # (and the x == y diagonal); cross-group pairs are unique already
        .filter((F.col("ra") != F.col("rb")) | (F.col("__x") < F.col("__y")))
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            "jaccard",
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    n: int = 3,
) -> DataFrame:
    """MinHash signature per document: ``mh{i} = min(md5(shingle ⊕ seed_i))``.

    Round 14 (optimization guide §2.4): computed as ``num_hashes``
    ``array_min(transform(...))`` reductions over the doc's OWN shingle
    array — a pure map, no explode, no shuffle, no aggregation. The
    aggregate form (min-aggregates over the exploded shingle table)
    forced a SortAggregate pair around a full exchange, because min
    over md5 STRINGS has no mutable hash-agg buffer. The earlier
    objection to an array-expression variant — optimizer
    project-collapsing re-inlining the shingling once per hash — is
    disarmed the same way word_shingles disarms it for the tokenizer:
    the shingle array is ``bind``-ed into ONE lambda that emits the
    whole signature struct, so it is evaluated once per row no matter
    how the projections collapse (verified in the plan: one
    ``split(trim(...))`` per side). Docs with no shingles are excluded
    up front by the cheap token-count predicate (shingle-less ⇔ fewer
    than ``n`` tokens — see word_shingles_from_tokens), exactly as the
    aggregate form emitted no group for them; filtering on the raw text
    instead of on a NULL min keeps the expensive signature expression
    out of the filter (a pushed-down filter on ``mh0`` would re-inline
    and re-evaluate it).
    """
    from .text import token_count

    sig = bind(
        word_shingles(F.col(text_col), n),
        lambda sh: F.struct(
            *[
                F.array_min(
                    F.transform(
                        sh, lambda x: F.md5(F.concat(x, F.lit(f"#seed{i}")))
                    )
                ).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        ),
    )
    return (
        df.filter(token_count(F.col(text_col)) >= n)
        .select(F.col(id_col), sig.alias("__mh"))
        .select(
            F.col(id_col), *[F.col(f"__mh.mh{i}").alias(f"mh{i}") for i in range(num_hashes)]
        )
    )


def _signatures_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """Signature aggregation over an ALREADY-shingled (id, shingle)
    table — split out so callers that also need the shingle table for
    exact verification (:func:`fuzzy_decontaminate`) shingle once."""
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#seed{i}")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_band_keys(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band_key) rows from a signature table: bands of
    ``rows_per_band`` hashes concatenate into bucket keys. This is the
    at-rest LSH index layout — on a persistent corpus, write this table
    bucketed/partitioned by ``band_key`` once and probe it per batch."""
    n_bands = num_hashes // rows_per_band
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"mh{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )


def band_keys_from_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """(id, band_key) rows straight from text — the fused, shuffle-free
    form of ``minhash_signatures`` → ``minhash_band_keys``.

    The per-doc MinHash ``min(md5(shingle ⊕ seed))`` is an array
    reduction over the doc's OWN shingle array (word_shingles already
    materializes it per row), so it needs no explode and no aggregation
    at all: ``array_min(transform(...))`` per seed inside one ``bind``
    lambda (single evaluation of the shingle array per row, same
    discipline as word_shingles itself). The aggregate form forced a
    SortAggregate pair around a full shuffle of the exploded shingle
    table — min over md5 STRINGS has no mutable hash-agg buffer — which
    this removes outright (optimization guide §2.4: remove shuffles; a
    map beats partial-agg + exchange + two sorts).

    Band keys are byte-identical to the aggregate form's
    (``concat_ws('|', b, mh..)`` == the explicit ``concat`` here on
    non-null mins); a shingle-less doc (text shorter than ``n`` words)
    yields NULL mins → NULL keys, dropped like the aggregate form drops
    the whole group (min over md5 of an empty set has no row to emit).
    """
    n_bands = num_hashes // rows_per_band

    def keys(sh: Column) -> Column:
        def mh(i: int) -> Column:
            return F.array_min(
                F.transform(sh, lambda x: F.md5(F.concat(x, F.lit(f"#seed{i}"))))
            )

        def band(b: int) -> Column:
            parts: list[Column] = [F.lit(str(b))]
            for r in range(rows_per_band):
                parts.append(F.lit("|"))
                parts.append(mh(b * rows_per_band + r))
            # concat (not concat_ws): NULL mins must poison the key so
            # shingle-less docs drop out, matching the aggregate form
            return F.concat(*parts)

        return F.array(*[band(b) for b in range(n_bands)])

    return df.select(
        F.col(id_col),
        F.explode(bind(word_shingles(F.col(text_col), n), keys)).alias("band_key"),
    ).filter(F.col("band_key").isNotNull())


def minhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    Band keys come from the fused shuffle-free
    :func:`band_keys_from_text` (round 14 — the signature aggregate's
    SortAggregate/Exchange pair is gone). The band table is
    MATERIALIZED once before the self-join (the session's
    ``session.materialize`` tier, as in jaccard_pairs): the aggregate
    form's exchange was implicitly reused across the two join sides,
    and a pure map has no exchange to reuse — without the checkpoint
    both sides re-shingle and re-hash the corpus (measured at the 100×
    sweep: 13.7 s vs the old form's 7.9 s; with it the fused path wins
    at both scales).
    Output: distinct (id_a, id_b), id_a < id_b.
    """
    bands = materialize(
        band_keys_from_text(df, text_col, id_col, num_hashes, rows_per_band, n)
    )
    return _bucket_pairs(bands, "band_key", id_col).distinct()


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    rows_per_band: int = 2,
    n: int = 3,
    threshold_pm: int = 500,
) -> DataFrame:
    """FUZZY test-set decontamination (the Brown et al. GPT-3 App. C /
    Dolma pattern, upgraded from exact n-gram hits to near-duplicate
    detection): flag every training document whose shingle-set Jaccard
    against ANY eval document reaches ``threshold_pm``/1000, where
    candidates come from MinHash-LSH banding — so a paraphrased or
    lightly-edited eval leak is caught, not just a verbatim one
    (contrast the exact-overlap :func:`~..queries_ext.q_decontaminate`
    check, which counts shared shingles but misses high-overlap pairs
    expressed as per-doc counts).

    Estimate-then-verify, all engine-portable: (1) md5 MinHash
    signatures on both sides — the shingle EXPRESSION is defined once
    and feeds both the signatures and the exact verify (the branches
    recompute the narrow shingling map rather than caching an
    O(corpus-shingles) intermediate, which is the right trade at
    100 TB: re-running a codegen'd split+explode is cheaper than
    spilling it); (2) band-key
    equi-join, eval side broadcast (the held-out set is small by
    definition) → candidate (train, eval) pairs, recall governed by
    the banding like every LSH stage (the band CTE is replayed
    verbatim in the oracle, so the check is exact over the SAME
    candidate set); (3) exact Jaccard verify scoped to candidates:
    intersection via one equi-join on (eval_id, shingle), union from
    per-doc shingle counts, threshold compared as the exact rational
    ``1000·|∩| ≥ threshold_pm·|∪|`` (never a float).

    Returns one row per CONTAMINATED train doc — its best-matching
    eval doc under the total order (jaccard_pm desc, n_inter desc,
    n_union asc, eval_id asc): ``(doc_id, eval_id, n_inter, n_union,
    jaccard_pm)`` with ``jaccard_pm = (1000·|∩|) div |∪|`` integer-
    exact. Drop or quarantine the flagged docs upstream of training.

    Scale: train side streams through shingle-explode → band build →
    two broadcast joins and one aggregation keyed by (train, eval)
    candidate pairs — no doc×doc blowup, no global sort; the per-doc
    dedup window partitions by train doc id (unique → skew-free)."""
    from pyspark.sql.window import Window

    tr_sh = shingle_table(train, text_col, id_col, n)
    ev_sh = shingle_table(eval_df, text_col, id_col, n)
    # round 14: band keys via the fused array-expression path (no
    # explode/SortAggregate/exchange per side — see band_keys_from_text);
    # keys are byte-identical to the aggregate form's
    tr_bands = band_keys_from_text(
        train, text_col, id_col, num_hashes, rows_per_band, n
    ).select(F.col(id_col).alias("doc_id"), "band_key")
    ev_bands = band_keys_from_text(
        eval_df, text_col, id_col, num_hashes, rows_per_band, n
    ).select(F.col(id_col).alias("eval_id"), "band_key")
    cand = (
        tr_bands.join(F.broadcast(ev_bands), "band_key")
        .select("doc_id", "eval_id")
        .distinct()
    )
    tr_sizes = tr_sh.groupBy(id_col).agg(F.count("*").alias("n_tr"))
    ev_sizes = ev_sh.groupBy(id_col).agg(F.count("*").alias("n_ev"))
    inter = (
        cand.join(tr_sh.withColumnRenamed(id_col, "doc_id"), "doc_id")
        .join(
            F.broadcast(
                ev_sh.select(
                    F.col(id_col).alias("eval_id"), "shingle"
                )
            ),
            ["eval_id", "shingle"],
        )
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(
            tr_sizes.select(F.col(id_col).alias("doc_id"), "n_tr"), "doc_id"
        )
        .join(
            F.broadcast(
                ev_sizes.select(F.col(id_col).alias("eval_id"), "n_ev")
            ),
            "eval_id",
        )
        .withColumn("n_union", F.col("n_tr") + F.col("n_ev") - F.col("n_inter"))
        .filter(
            F.lit(1000) * F.col("n_inter")
            >= F.lit(int(threshold_pm)) * F.col("n_union")
        )
        .withColumn(
            "jaccard_pm",
            F.expr("(1000 * n_inter) div n_union").cast("long"),
        )
    )
    best = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard_pm").desc(),
        F.col("n_inter").desc(),
        F.col("n_union").asc(),
        F.col("eval_id").asc(),
    )
    return (
        scored.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "eval_id", "n_inter", "n_union", "jaccard_pm")
    )


def portable_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """Engine-portable SimHash: bit *i* of a token's hash is the top bit
    of hex nibble *i* of ``md5(token)`` (``hex_digit >= '8'``), and the
    document bit is the majority vote over its tokens. Any engine that
    can compute md5 and substring agrees byte-for-byte — unlike the
    xxhash64 fast path in :func:`simhash` — so the signature (and the
    pair generation built on it in :func:`simhash_pairs`) is
    DuckDB-oracle-checkable and survives infrastructure moves.

    Output: (id, simhash_bits) with ``simhash_bits`` a ``bits``-char
    '0'/'1' string, MSB-first nibble order.

    Round 14 (optimization guide §1.2 step 2 — per-task work): the
    per-bit votes are ONE ``aggregate`` fold over the md5 array with an
    ``array<int>`` accumulator (``zip_with`` adds each token's 32 nibble
    top-bits at once), replacing ``bits`` separate ``filter`` passes
    that each re-traversed the whole array and allocated a filtered
    copy plus one substring per (token, bit). Byte-identical output
    (A/B at sf0.1: 0.90s → 0.37s for the signature stage, verified
    row-for-row equal); simhash_pairs inherits the win — it was the
    single slowest entry of the 100× sweep (SCALE_r14: 168 s).
    """
    if bits > 32:
        raise ValueError("md5 has 32 hex nibbles; bits must be <= 32")
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    hashed = toks.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda t: F.md5(t)).alias("__md5s"),
        F.size("__toks").alias("__n"),
    )
    votes = F.aggregate(
        # NULL text → NULL token array; the old per-bit form voted every
        # bit '0' there (size(NULL) is NULL, when(NULL) falls through to
        # '0') — coalesce to an empty fold so the output stays "00…0"
        F.coalesce(F.col("__md5s"), F.array().cast("array<string>")),
        F.expr(f"array_repeat(0, {bits})"),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(bits)),
                lambda i: F.when(F.substring(s, i, 1) >= "8", 1).otherwise(0),
            ),
            lambda a, b: a + b,
        ),
    )
    return hashed.select(
        F.col(id_col),
        F.concat_ws(
            "",
            F.transform(
                votes, lambda v: F.when(v * 2 > F.col("__n"), "1").otherwise("0")
            ),
        ).alias("simhash_bits"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """N2 (SimHash variant): near-dup pairs by Hamming distance over
    portable SimHash signatures.

    Candidate generation is band-bucketed — the signature splits into
    ``bands`` equal substrings and the inverted index joins on (band_no,
    band_bits). **Complete by pigeonhole, not probabilistic**: a pair
    within ``max_hamming ≤ bands − 1`` differing bits cannot touch all
    ``bands`` bands, so it MUST collide on at least one — unlike MinHash
    banding there is no recall loss. Exact Hamming distance is then
    computed per candidate and filtered.

    Scale: same shape as the other bucket joins here — one shuffle on
    the band key, pair volume = actual collisions, no n² anywhere.
    Output: (id_a, id_b, hamming), id_a < id_b.

    Round 15: the signature table is no longer checkpointed here — the
    dup-collapse inside :func:`hamming_bits_pairs` is now the (single)
    materialization point, and with it the signature map is consumed
    exactly once, by the collapse aggregation. Checkpointing both
    would pay a full extra pass over the corpus for a table nothing
    re-reads (measured at 100×: 11.3 s of the old 121.7 s).
    """
    return hamming_bits_pairs(
        portable_simhash(df, text_col, id_col, bits),
        id_col,
        "simhash_bits",
        bands,
        max_hamming,
        bits=bits,
    )


def hamming_bits_pairs(
    sig: DataFrame,
    id_col: str,
    bits_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    bits: int | None = None,
    max_group_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over ANY '0'/'1' bit-string
    signature column — the banded candidate machinery behind
    :func:`simhash_pairs`, factored out so other signatures (image
    dHash from ``operators/multimodal.py``, audio fingerprints, …)
    reuse it unchanged.

    The signature splits into ``bands`` equal substrings; candidates
    join on (band_no, band_bits). Complete by pigeonhole for
    ``max_hamming ≤ bands − 1`` (that few differing bits cannot touch
    every band), then exact Hamming verifies per candidate. One
    shuffle on the band key, pair volume = actual collisions, no n².
    Null signatures (quarantined decodes) drop out before banding.
    Output: (id_a, id_b, hamming), id_a < id_b.

    Callers that know their signature width (every generator here does:
    SimHash/dHash fix it by construction) pass ``bits`` and the plan
    stays one job — without it, a ``first()`` probe infers the width,
    one extra (tiny) Spark job per call. Either way the banding stage
    VALIDATES length uniformity per row (``assert_true`` rides the
    existing projection): a mixed-width signature column raises instead
    of silently comparing null-padded tails as matches.

    GIANT-GROUP caveat: the duplicate collapse stores each identical-
    signature group's member list as ONE array row, and a group of g
    members inherently emits g·(g−1)/2 within-pairs — so a pathological
    corpus where millions of documents share one signature puts a
    multi-GB array in a single task AND an O(g²) pair volume in the
    output. That pair volume is the answer (every member pair IS a
    duplicate pair), not an artifact; if downstream only needs the
    dup-sets, consume ``groups``-shaped output instead of pairs. Pass
    ``max_group_size`` to fail LOUDLY when any group exceeds the bound
    (``assert_true`` fused into the collapse — no extra job) rather
    than discovering the blowup as an executor OOM three stages later.

    Round 15 (optimization guide §2.4 / §1.2 step 1; VERDICT r14 item
    3). Two structural changes, output-identical:

    - The ``groups`` collapse is MATERIALIZED once (the session's
      ``session.materialize`` tier, eager at DataFrame-construction
      time, same contract as :func:`jaccard_pairs`). The old plan
      re-ran the signature aggregation per consumer — the 100×
      decomposition showed EIGHT scans of the signature table and six
      collect_list/min aggregations (≈60 s of the 121 s total) because
      the reps/verify/expansion branches each rebuilt it.
    - Member expansion runs through hash-JOIN fanout on an exploded
      (rep, member) table instead of array joins + double ``explode``:
      the measured 100× A/B on identical materialized inputs is 302.8 s
      (Generate path, 1.2e9 output rows in a few post-AQE-coalesced
      tasks — coalescing sizes partitions on PRE-explode bytes) vs
      42.2 s (join fanout; BroadcastHashJoin row production is
      whole-stage-codegen'd and inherits the probe side's full
      parallelism). Same move `_bucket_pairs` already documents for
      candidate generation.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding guarantees completeness only for max_hamming <= bands-1 "
            f"({max_hamming} > {bands - 1})"
        )
    sig = sig.select(F.col(id_col), F.col(bits_col)).filter(
        F.col(bits_col).isNotNull()
    )
    if bits is None:
        head = sig.select(F.length(bits_col).alias("n")).first()
        bits = int(head["n"]) if head is not None else 0
    if bits % bands:
        raise ValueError("signature length must divide evenly into bands")
    width = bits // bands
    # per-row width check, fused into the banding projection (no extra
    # job, no extra pass): uniform by contract, loud when violated
    sig = sig.filter(
        F.assert_true(
            F.length(bits_col) == F.lit(bits),
            F.concat(
                F.lit(f"non-uniform signature width in {bits_col!r}: expected "),
                F.lit(str(bits)),
                F.lit(" bits, got "),
                F.length(bits_col).cast("string"),
            ),
        ).isNull()
    )
    # Duplicate-aware collapse (same move as jaccard_pairs' group
    # collapse): docs with IDENTICAL signatures form one group, and only
    # the group REP enters banding + verification. A duplicated corpus
    # (the common 100 TB reality — the 100× smoke's fully-replicated
    # corpus filled the disk with shuffle spill on the per-id form)
    # collapses from n ids to |distinct signatures| rows for every
    # shuffle; member pairs re-expand at the END through narrow explodes
    # in the output stage, so the inherent pair volume is materialized
    # exactly once and never shuffled with signatures attached.
    groups = sig.groupBy(bits_col).agg(
        F.min(id_col).alias("__rep"),
        F.sort_array(F.collect_list(id_col)).alias("__members"),
    )
    if max_group_size is not None:
        if max_group_size < 1:
            raise ValueError(f"max_group_size must be >= 1, got {max_group_size}")
        groups = groups.filter(
            F.assert_true(
                F.size("__members") <= F.lit(max_group_size),
                F.concat(
                    F.lit("identical-signature group exceeds max_group_size="),
                    F.lit(str(max_group_size)),
                    F.lit(": rep id "),
                    F.col("__rep").cast("string"),
                    F.lit(" has "),
                    F.size("__members").cast("string"),
                    F.lit(" members"),
                ),
            ).isNull()
        )
    # one aggregation feeds five consumers (banding, both verify sides,
    # both expansion sides) — truncate lineage here so they all read
    # one computed table (round 15; see docstring)
    groups = materialize(groups)
    reps = groups.select(F.col("__rep").alias(id_col), F.col(bits_col))
    banded = reps.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.substring(bits_col, b * width + 1, width),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )
    cand = _bucket_pairs(banded, "band_key", id_col).distinct()
    a = reps.select(F.col(id_col).alias("id_a"), F.col(bits_col).alias("__sa"))
    b = reps.select(F.col(id_col).alias("id_b"), F.col(bits_col).alias("__sb"))
    hamming = F.aggregate(
        F.zip_with(
            F.split("__sa", ""),
            F.split("__sb", ""),
            lambda x, y: F.when(x != y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # surviving REP pairs (distinct signatures, hamming in (0, max])
    rep_pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        # long, not int: the driver's value hash is dtype-sensitive and
        # the DuckDB oracle's list_sum lands on BIGINT
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
    # cross-group expansion: every member pair across two surviving
    # groups shares the reps' exact hamming (identical signatures
    # within a group). Round 15: hash-JOIN fanout on the exploded
    # (rep, member) table — the g_a·g_b output rows are produced inside
    # codegen'd join machinery instead of two Generate nodes (7.2×
    # at 100×, see docstring).
    mem = groups.select(F.col("__rep"), F.explode("__members").alias("__m"))
    ma = mem.select(F.col("__rep").alias("id_a"), F.col("__m").alias("__x"))
    mb = mem.select(F.col("__rep").alias("id_b"), F.col("__m").alias("__y"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("__x", "__y").alias("id_a"),
            F.greatest("__x", "__y").alias("id_b"),
            "hamming",
        )
    )
    # within-group pairs: identical signatures, hamming 0 (always ≤
    # max_hamming). Self-join keyed on the rep; output = inherent pairs.
    mem2 = groups.filter(F.size("__members") >= 2).select(
        F.col("__rep"), F.explode("__members").alias("__m")
    )
    within = (
        mem2.alias("x")
        .join(mem2.alias("y"), "__rep")
        .filter(F.col("x.__m") < F.col("y.__m"))
        .select(
            F.col("x.__m").alias("id_a"),
            F.col("y.__m").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash per document — majority vote over token-hash bit vectors.

    Uses ``xxhash64`` (JVM-side, fast, *not* engine-portable — SimHash
    here is an intra-engine near-dup key, checked rows-only by the
    driver). The token-hash array is staged once; each bit's majority
    vote is a size/filter over it.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    hashed = toks.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda t: F.xxhash64(t)).alias("__h"),
        F.size("__toks").alias("__n"),
    )
    one = F.lit(1).cast("long")
    bit_cols = []
    for b in range(bits):
        mask = F.shiftleft(one, b)
        ones = F.size(F.filter(F.col("__h"), lambda x: x.bitwiseAND(mask) != 0))
        vote = (ones * 2) > F.col("__n")  # majority of tokens set this bit
        bit_cols.append(F.when(vote, mask).otherwise(F.lit(0).cast("long")))
    sim = bit_cols[0]
    for c in bit_cols[1:]:
        sim = sim.bitwiseOR(c)
    return hashed.select(F.col(id_col), sim.alias("simhash"))
