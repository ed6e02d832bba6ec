"""Distributed BPE (byte-pair-encoding) merge training.

Sennrich et al. 2016 subword learning as Spark dataflow. The reference
tokenizes nothing (its corpus is book metadata); a training-data engine
that counts tokens (operators/text.py ``bpe_token_count``) should also
be able to LEARN the merge table from its own corpus.

Scale shape — the part that matters at 100 TB:

- The corpus collapses to a **word-frequency table** first (one
  explode + groupBy). Every subsequent iteration works on |vocab| rows
  (≈10⁵–10⁷), not corpus rows (≈10¹¹); corpus size only ever affects
  the one initial aggregation.
- Each merge round is: one pair-count aggregation (weighted by word
  freq, array-algebra pair extraction — no Python), one driver-side
  argmax of a single row (count desc, pair lex asc — deterministic
  total order), one ``transform`` applying the merge to the symbol
  arrays. Lineage is truncated every round.
- Merge application is the standard greedy leftmost-nonoverlapping
  fold, expressed with ``aggregate`` (fold) over the symbol array:
  'aaa' under merge (a,a) → ['aa','a'], never ['a','aa'] — the same
  result as the reference Python implementation, asserted by replay
  tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

__all__ = ["word_freq_table", "pair_counts", "bpe_train", "bpe_encode"]

END = "</w>"


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, syms) — distinct corpus words with frequencies and
    initial symbol arrays (characters + end-of-word marker)."""
    w = (
        df.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(END)))
    return w.withColumn("syms", syms)


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency:
    (a, b, cnt). One array-algebra projection + one aggregation."""
    # guard: sequence(1, 0) DESCENDS in Spark, so a fully-merged
    # single-symbol word would index out of bounds without the size gate
    pairs = F.expr(
        "CASE WHEN size(syms) >= 2 THEN "
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) "
        "ELSE array() END"
    )
    return (
        words.select(F.col("freq"), F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _apply_merge(syms_col, a: str, b: str):
    """Greedy leftmost-nonoverlapping replacement of adjacent (a, b) →
    a+b inside a symbol array, as a fold: append each symbol; when the
    accumulator's tail is `a` (and was not itself just produced by this
    round's merge) and the next symbol is `b`, fuse them."""
    merged = a + b
    la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
    return F.aggregate(
        syms_col,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb)
            # tail == a is enough: if a==merged this round can't occur
            # (merged is strictly longer than a since b is non-empty)
            ,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    batch_k: int = 1,
    max_rounds: int | None = None,
    stats: dict | None = None,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    [(merge_idx, left, right, pair_count)] in merge order. Stops early
    if no pair occurs twice.

    ``batch_k=1`` (default) is classic sequential BPE — one pair-count
    aggregation, one single-row argmax collect, one merge application
    per learned merge: the EXACTNESS twin, byte-identical to the
    pure-Python reference replay, but 32k merges = 32k sequential Spark
    jobs with a driver round-trip each. Nobody should train a
    production vocabulary that way.

    ``batch_k>1`` is the production path: per ROUND, collect the top
    pair-count rows once and greedily select up to ``batch_k`` merges
    whose symbol sets are pairwise DISJOINT (and none of which names a
    symbol another selection of this round creates) — merging (a,b)
    cannot change the occurrence count of any pair touching neither a
    nor b, so every selected pair's count is still exact when its turn
    comes. The selected merges apply as ``batch_k`` chained folds in
    ONE projection + ONE lineage truncation, so a 32k-merge vocabulary
    costs ~32k/K aggregation rounds instead of 32k. The standard
    batched-BPE approximation (fastBPE / tokenizers train the same
    way): within a round, a pair NEWLY CREATED by an earlier selection
    never competes, so the merge LIST can differ from the sequential
    twin's even though every selected count is exact — callers that
    need bit-identical classic output keep ``batch_k=1``.

    ``max_rounds`` caps the number of pair-count rounds — callers that
    must stay replayable against a SINGLE-round oracle (the bpe_encode
    registry entry) pass 1, so a round that selects fewer than
    ``batch_k`` disjoint merges returns that shorter list instead of
    continuing with post-merge counts the oracle never sees.

    ``stats``: optional caller-supplied dict filled with ``rounds``
    (pair-count aggregations actually run), ``merges`` (learned), and
    ``saturated`` (True iff training stopped because no remaining pair
    occurs twice — the corpus vocabulary is exhausted — rather than
    because ``n_merges`` or ``max_rounds`` was reached).
    """
    if batch_k < 1:
        raise ValueError(f"batch_k must be >= 1, got {batch_k}")
    words = materialize(word_freq_table(df, text_col))
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    saturated = False
    while len(merges) < n_merges and (max_rounds is None or rounds < max_rounds):
        rounds += 1
        want = min(batch_k, n_merges - len(merges))
        # disjointness skips candidates (a hot symbol like the
        # end-of-word marker can sit in MANY top pairs, of which only
        # one is selectable per round), so fetch a much deeper pool
        # than the per-round target — still one collect, O(pool)
        # driver rows, nothing at corpus scale
        pool = want if want == 1 else max(16 * want, 256)
        top = (
            pair_counts(words)
            .orderBy(F.desc("cnt"), F.col("a"), F.col("b"))
            .limit(pool)
            .collect()
        )
        cand = [r for r in top if r["cnt"] >= 2]
        if not cand:
            saturated = True
            break
        used: set[str] = set()
        batch: list[tuple[str, str, int]] = []
        for r in cand:
            if len(batch) >= want:
                break
            a, b = r["a"], r["b"]
            if a in used or b in used or (a + b) in used:
                continue
            batch.append((a, b, int(r["cnt"])))
            # the merged symbol joins the exclusion set too: a pair
            # naming it has a stale (pre-merge) count this round
            used.update((a, b, a + b))
        if not batch:
            break
        syms = F.col("syms")
        for a, b, _cnt in batch:
            syms = _apply_merge(syms, a, b)
        words = materialize(words.withColumn("syms", syms))
        for a, b, cnt in batch:
            merges.append((len(merges), a, b, cnt))
    if stats is not None:
        stats.update(rounds=rounds, merges=len(merges), saturated=saturated)
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[int, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize a corpus with a learned merge list: per word, start from
    characters + end-marker and apply every merge in training order
    (greedy leftmost, the same fold as training). Returns
    ``(id, tokens, n_tokens)``.

    Scale shape mirrors training: encoding runs once per DISTINCT word
    (the vocab trick — |vocab| fold chains, not corpus·|word| work),
    then words map back to documents by a join on the word string and
    reassemble in position order. The merge list is a plan-time literal
    (K chained fold expressions); keep K ≲ a few hundred per encode
    call — for full production vocabularies, apply in chunks of K
    (encode is associative over merge-list prefixes by construction).
    """
    words_pos = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("__pos", "word"),
    ).filter(F.col("word") != "")
    vocab = words_pos.select("word").distinct()
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(END)))
    for _, a, b, _cnt in merges:
        syms = _apply_merge(syms, a, b)
    encoded = vocab.select("word", syms.alias("__toks"))
    return (
        words_pos.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__toks"))),
                    lambda s: s["__toks"],
                )
            ).alias("tokens")
        )
        .withColumn("n_tokens", F.size("tokens").cast("long"))
    )
