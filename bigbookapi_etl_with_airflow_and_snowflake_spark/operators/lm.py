"""Bigram language-model quality scoring (the CCNet-style LM filter).

Production pretraining pipelines score every document against a
reference-domain language model and drop the high-perplexity tail
(CCNet, Gopher/MassiveText, RefinedWeb all do a variant). The reference
repo has no corpus-quality tier at all; this is the Spark-first
formulation:

- **Train** = two aggregations over the reference slice's token
  stream: bigram counts c(a,b) and context counts c(a) (the latter a
  rollup of the former, so training is ONE pass over the corpus).
- **Score** = explode each document into bigrams, LEFT JOIN the two
  count tables, aggregate per document. No Python in the hot path; the
  joins shuffle on the bigram/context keys and AQE handles hot-token
  skew (stopword bigrams) the same way it handles any hot join key.

At 100 TB the count tables are |distinct bigrams| rows — millions, not
corpus-sized — and broadcast when they fit; the per-doc score is one
pass over the document stream. Add-one smoothing keeps the model free
of hyperparameter state beyond the vocabulary size.

Cross-entropy sums IEEE doubles, so it is deterministic only up to
aggregation order — the registry entry (`lm_quality` in
queries_ops.py) therefore exposes the INTEGER-exact signals
(bigram/context hit counts and a fixed-point coverage score) under the
DuckDB oracle, while `cross_entropy`/`perplexity` are locked by the
pure-Python replay in tests/test_lm.py. (Same pattern as the sketch
tier: engine-order-sensitive floats ride rows-only, exact twins carry
the oracle.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

__all__ = [
    "doc_bigrams",
    "train_bigram_lm",
    "score_bigram_lm",
    "quality_buckets",
    "dsir_weights",
    "dsir_sample",
    "nb_token_weights",
    "nb_classify",
]


def doc_bigrams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """(id, a, b) — one row per adjacent whitespace-token pair; docs
    with fewer than two tokens contribute nothing. Tokenization is the
    module-standard whitespace split (operators/text.py tokens) so the
    LM tier can never silently diverge from the rest of the text
    operators or their SQL-oracle convention."""
    from .text import tokens

    toks = tokens(F.col(text_col))
    pairs = F.expr(
        "CASE WHEN size(__t) >= 2 THEN "
        "transform(sequence(1, size(__t) - 1), "
        "i -> struct(element_at(__t, i) AS a, element_at(__t, i + 1) AS b)) "
        "ELSE array() END"
    )
    return (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(F.col(id_col), F.explode(pairs).alias("__p"))
        .select(F.col(id_col), F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    )


def train_bigram_lm(
    ref: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame, int]:
    """Train on the reference slice: returns ``(bigrams, contexts,
    vocab_size)`` where ``bigrams`` = (a, b, c_ab), ``contexts`` =
    (a, c_a) (the per-context rollup of the same counts), and
    ``vocab_size`` = distinct context tokens — the V in add-one
    smoothing. One corpus pass: the bigram table is pinned
    (``session.materialize``, eager, so training launches Spark jobs),
    and the rollup, the distinct count and both scoring joins read the
    pinned table instead of re-tokenizing the reference slice (the two
    join branches carry different inferred filters, so Spark would not
    reuse one exchange for them)."""
    bigrams = materialize(
        doc_bigrams(ref, text_col, id_col)
        .groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
    )
    contexts = bigrams.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vocab_size = contexts.count()
    return bigrams, contexts, vocab_size


def score_bigram_lm(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LM quality: explode to bigrams, LEFT JOIN the count
    tables, aggregate. Output per doc (docs with ≥2 tokens):

    - ``n_bigrams``, ``known_bigrams`` (c(a,b) > 0 in training),
      ``known_contexts`` (context token seen in training) — exact ints;
    - ``coverage_pm`` — known_bigrams per mille of n_bigrams, exact
      integer arithmetic (the oracle-friendly fixed-point score);
    - ``cross_entropy`` — −mean ln((c(a,b)+1)/(c(a)+V)), add-one
      smoothed, nats; ``perplexity`` = exp(cross_entropy). IEEE sums:
      deterministic up to aggregation order (see module docstring).
    """
    if vocab_size < 1:
        raise ValueError(
            "empty reference corpus (vocab_size == 0): the smoothed "
            "probability (c+1)/(c+V) degenerates to division by zero — "
            "train on a non-empty slice"
        )
    d = doc_bigrams(docs, text_col, id_col)
    joined = (
        d.join(bigrams, ["a", "b"], "left")
        .join(contexts, ["a"], "left")
        .select(
            F.col(id_col),
            F.col("c_ab"),
            F.col("c_a"),
        )
    )
    v = F.lit(float(vocab_size))
    logp = F.log(
        (F.coalesce(F.col("c_ab"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.coalesce(F.col("c_a"), F.lit(0)).cast("double") + v)
    )
    out = joined.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.count("c_ab").alias("known_bigrams"),
        F.count("c_a").alias("known_contexts"),
        F.avg(-logp).alias("cross_entropy"),
    )
    return out.select(
        id_col,
        "n_bigrams",
        "known_bigrams",
        "known_contexts",
        F.floor(F.lit(1000) * F.col("known_bigrams") / F.col("n_bigrams"))
        .cast("long")
        .alias("coverage_pm"),
        "cross_entropy",
        F.exp("cross_entropy").alias("perplexity"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, *Data Selection for
    Language Models via Importance Resampling*): score each raw-corpus
    document by how much more target-like than raw-like its n-gram
    distribution is — ``log p_target(x) − log p_raw(x)`` under two
    feature LMs — then resample proportional to the weight
    (:func:`dsir_sample`). The paper uses hashed n-gram bag models;
    this formulation uses the module's bigram models with an
    INTEGER-EXACT quantization of the per-feature log-ratio so the
    whole pipeline replays bit-identically in SQL (the sketch-tier
    convention: engine-order-sensitive floats never decide a sample).

    Per bigram occurrence (a, b):
    ``δ = ilog2(c_target(a,b) + 1) − ilog2(c_raw(a,b) + 1)`` where
    ``ilog2(x) = length(bin(x)) − 1`` — pure string/integer ops, no
    floating log anywhere (an IEEE ``floor(log2 ...)`` could flip at
    exact powers across engines). δ is the log-likelihood-ratio
    quantized to whole bits, up to the additive normalizer
    ``log((R+V)/(T+V))``, which is constant per bigram occurrence and
    therefore shifts every document's per-bigram mean equally —
    rank-preserving for length-comparable documents, and the explicit
    min-shift in :func:`dsir_sample` (re)anchors the scale anyway.

    Output per document with ≥2 tokens: (id, n_bigrams, dsir_score =
    Σδ). Documents under 2 tokens have no bigram features and are
    excluded (same convention as :func:`score_bigram_lm`).

    Scale: the two count tables are |distinct bigrams| rows —
    broadcastable; the scoring join shuffles on the bigram key (AQE
    handles stopword-bigram skew) and the per-doc aggregation is one
    map-side-combined groupBy. One pass over the corpus stream."""
    bigrams = doc_bigrams(docs, text_col, id_col)
    tb = (
        doc_bigrams(target, text_col, id_col)
        .groupBy("a", "b")
        .agg(F.count("*").alias("__ct"))
    )
    rb = bigrams.groupBy("a", "b").agg(F.count("*").alias("__cr"))

    def ilog2p1(c):
        # length(bin(c + 1)) - 1 == floor(log2(c + 1)), exactly, for
        # c >= 0 — the -1 cancels in the δ difference so is omitted
        return F.length(F.bin(c + F.lit(1)))

    delta = ilog2p1(F.coalesce(F.col("__ct"), F.lit(0))) - ilog2p1(F.col("__cr"))
    return (
        bigrams.join(tb, ["a", "b"], "left")
        # inner: every raw bigram is in rb by construction
        .join(rb, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(delta).cast("long").alias("dsir_score"),
        )
    )


def dsir_sample(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """DSIR resampling: ~``k`` documents drawn with inclusion
    probability proportional to the (shifted) importance score from
    :func:`dsir_weights` — the paper's importance-resampling step,
    realized as the module-standard DETERMINISTIC systematic PPS
    sampler (``operators/sampling.pps_systematic_sample``): no RNG, so
    the sample is identical on any partitioning and SQL-replayable.

    The PPS weight is ``dsir_score − min(dsir_score) + 1`` (≥ 1):
    integer-exact, monotone in the score, and anchored so the
    least-target-like document still occupies one unit of the weight
    line (Madow's method needs positive integer weights; the paper's
    ``exp(score)`` weighting would both overflow integer arithmetic
    and be IEEE-ordering-sensitive).

    Two-action shape (the global-min scalar, then the prefix-sum
    sampler's own actions) — the scored frame is persisted across
    them, same policy as :func:`quality_buckets`.

    Output: (id, n_bigrams, dsir_score, dsir_weight) for the sampled
    documents."""
    from pyspark import StorageLevel

    from .sampling import pps_systematic_sample

    scored = dsir_weights(docs, target, text_col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    smin = scored.agg(F.min("dsir_score").alias("m")).first()["m"]
    if smin is None:
        raise ValueError(
            "no scorable documents (every doc has < 2 tokens) — DSIR "
            "needs at least one bigram-bearing document"
        )
    weighted = scored.withColumn(
        "dsir_weight", (F.col("dsir_score") - F.lit(int(smin)) + F.lit(1)).cast("long")
    )
    sample = pps_systematic_sample(
        weighted, id_col, "dsir_weight", k, num_partitions=num_partitions
    )
    # the sampler returns an eagerly checkpointed (lineage-severed)
    # frame and scored is local — unpersist, or every call leaks a
    # cached copy of the scored corpus for the session lifetime
    scored.unpersist()
    return sample


def nb_token_weights(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-token Naive-Bayes vote weights from two labeled seed slices
    — the *seed classifier* step every production curation stack runs
    (CCNet/LLaMA train a fastText model on Wikipedia-vs-crawl; GPT-3 a
    logistic classifier on WebText-vs-crawl) to score raw documents by
    target-likeness. fastText with unigram features IS a linear
    classifier over token log-odds; this is that model with the
    module's integer quantization so train + inference replay exactly
    in SQL (the DSIR convention — engine-order-sensitive floats never
    decide a keep/drop).

    Weight per token w: ``δ(w) = ilog2(c_pos(w)+1) − ilog2(c_neg(w)+1)``
    with ``ilog2(x) = length(bin(x))`` — the add-one-smoothed
    log-likelihood ratio quantized to whole bits, pure string/integer
    ops. The class-prior and total-count normalizers are per-token
    constants (they shift every token's weight equally) and are
    deliberately dropped: the decision threshold in
    :func:`nb_classify` anchors the scale, exactly as DSIR's min-shift
    does.

    Output: (tok, c_pos, c_neg, delta) for every token in either seed
    — |vocab| rows, broadcastable at any corpus size (the model is a
    dictionary, not a corpus)."""
    cp = _doc_tokens(pos, text_col, id_col).groupBy("tok").agg(
        F.count("*").alias("c_pos")
    )
    cn = _doc_tokens(neg, text_col, id_col).groupBy("tok").agg(
        F.count("*").alias("c_neg")
    )

    def ilog2p1(c):
        return F.length(F.bin(c + F.lit(1)))

    return (
        cp.join(cn, "tok", "full")
        .select(
            "tok",
            F.coalesce("c_pos", F.lit(0)).cast("long").alias("c_pos"),
            F.coalesce("c_neg", F.lit(0)).cast("long").alias("c_neg"),
        )
        .withColumn(
            "delta",
            (
                ilog2p1(F.col("c_pos")) - ilog2p1(F.col("c_neg"))
            ).cast("long"),
        )
    )


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok) — one row per whitespace token occurrence (module-
    standard tokenization, operators/text.py tokens)."""
    from .text import tokens

    return df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )


def nb_classify(
    docs: DataFrame,
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: int = 0,
) -> DataFrame:
    """Score every document with the :func:`nb_token_weights` seed
    classifier: ``nb_score = Σ δ(w)`` over the document's token
    occurrences (tokens unseen in both seeds vote 0), and
    ``nb_positive = nb_score > threshold`` — the keep/drop signal a
    curation funnel feeds into its quality gate (CCNet routes the
    classifier score into its head/middle/tail split; GPT-3 used it as
    a Pareto-resampling weight).

    Integer-exact end to end, so the decision — not just the score —
    replays bit-identically in any engine. Documents with no tokens
    (NULL text) are excluded, same convention as
    :func:`score_bigram_lm`.

    Scale: the weight table is |vocab| rows (broadcastable); scoring is
    one explode → hash-join → map-side-combined groupBy, a single pass
    over the document stream — the same plan at 100 TB."""
    w = nb_token_weights(pos, neg, text_col, id_col).select("tok", "delta")
    return (
        _doc_tokens(docs, text_col, id_col)
        .join(F.broadcast(w), "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("delta"), F.lit(0)))
            .cast("long")
            .alias("nb_score"),
        )
        .withColumn(
            "nb_positive", F.col("nb_score") > F.lit(int(threshold))
        )
    )


def quality_buckets(
    scored: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    labels: tuple[str, str, str] = ("head", "middle", "tail"),
    persist: bool = True,
) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing (Wenzek et al. 2020
    §4.3: score every document with the reference LM, then split the
    corpus into thirds by score and keep/weight the buckets
    differently downstream). Threshold semantics, exactly as CCNet
    applies them: the cut points are SCORE VALUES, so equal-scoring
    documents always share a bucket (an NTILE would split ties by row
    order — and would also be a single-partition window).

    ``score_col`` must be integer-exact and bounded-domain (the
    per-mille ``coverage_pm`` from :func:`score_bigram_lm` here;
    CCNet's own perplexities would first be quantized the same way).
    That bound is the scale story: ONE pass over the corpus builds the
    per-value counts (≤ domain-size rows — a metadata-sized collect,
    same convention as centroid/manifest reads), the cut points are
    integer arithmetic over that tiny result driver-side, and the
    per-document assignment is a literal CASE projection — no global
    sort, no second scan of the upstream pipeline (a ``count()`` here
    would re-run the whole LM train+score lineage just for n).

    This is a TWO-ACTION operator (the threshold collect, then the
    caller consuming the returned frame), so by default ``scored`` is
    ``persist()``-ed (MEMORY_AND_DISK, lineage kept — eviction falls
    back to recompute, never fails) before the collect and the
    assignment projection reads the cached frame: the upstream lineage
    — for CCNet the full LM train+score — executes ONCE, not once per
    action. Pass ``persist=False`` when the caller already
    cached/checkpointed upstream. The cache is left registered (the
    returned frame depends on it); callers that need it gone call
    ``scored.unpersist()`` after consuming the result.

    Cut points: with n documents, ``head`` is every doc scoring ≥ the
    ⌈n/3⌉-th best document's score, ``tail`` every doc scoring < the
    ⌈2n/3⌉-th best document's score, ``middle`` the rest. Integer
    arithmetic only — bit-replayable in SQL.
    """
    if persist:
        from pyspark import StorageLevel

        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
    sc = F.col(score_col)
    by_value = sorted(
        (
            (r[score_col], r["__c"])
            for r in scored.groupBy(score_col)
            .agg(F.count("*").alias("__c"))
            .collect()
        ),
        key=lambda t: t[0],
        reverse=True,
    )
    n = sum(c for _, c in by_value)
    if n == 0:
        return scored.select(F.col(id_col), sc, F.lit(labels[2]).alias("bucket"))
    head_rank, mid_rank = (n + 2) // 3, (2 * n + 2) // 3
    cum, head_thr, mid_thr = 0, None, None
    for s, c in by_value:  # score descending; cum is monotone
        cum += c
        if head_thr is None and cum >= head_rank:
            head_thr = s
        if mid_thr is None and cum >= mid_rank:
            mid_thr = s
    return scored.select(
        F.col(id_col),
        sc,
        F.when(sc >= F.lit(head_thr), labels[0])
        .when(sc >= F.lit(mid_thr), labels[1])
        .otherwise(labels[2])
        .alias("bucket"),
    )
