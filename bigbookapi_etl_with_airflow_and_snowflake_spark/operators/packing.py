"""Training-sequence packing and RAG-style document chunking.

The reference pipeline ships cleaned documents to a warehouse
(``/root/reference/dags/db_to_snowflake.py``) and stops there; a
pretraining data platform has one more step — turning a curated corpus
into fixed-length model inputs. Two canonical shapes:

- ``pack_sequences``: the GPT/T5 data-loader "packing" step (Raffel et
  al. 2020 §3.1.2; Brown et al. 2020 §2.1): concatenate all documents
  in a deterministic order into one token stream and cut it into
  fixed-length sequences, recording per-sequence document boundaries
  (the payload a boundary-aware / block-diagonal attention mask
  needs). This MATERIALIZES the sequence side; the registry's
  doc-level ``pack_sequences`` entry (queries_ext.py) is its
  complement — a shard-qualified doc→sequence assignment map that
  never yields sequence contents or intra-sequence boundaries. The
  naive formulation of the global token offsets is ``SUM OVER (ORDER
  BY doc)`` — a global window that collapses Spark to one task. Here
  they come from ``distributed_prefix_sum`` (two narrow passes over a
  (doc_id, n_tokens) projection — the text column never enters the
  prefix-sum machinery, so its materialization pins two longs per doc,
  not the corpus), joined back and exploded JVM-side. Everything after
  the offsets is one posexplode + one groupBy(seq_id): tokens shuffle
  once, per-group state is bounded by ``seq_len``, and seq_ids are
  uniform by construction — no skew possible.

- ``chunk_documents``: fixed-size overlapping CHARACTER windows per
  document with recorded char offsets — the retrieval-chunking step a
  RAG ingestion pipeline runs before embedding, where ``char_start``
  is what maps a retrieved chunk back to its source span for citation
  /highlighting. The registry's token-window chunker
  (``chunk_documents`` in queries_ext.py) is the tokenizer-aligned
  complement; it cannot produce source offsets. Pure narrow map
  (sequence + explode + substr), zero shuffles, whole-stage codegen;
  at 100 TB this is scan-bound, exactly as it should be.

Both are deterministic integer/string arithmetic end-to-end and replay
exactly in ANSI SQL (DuckDB oracles in queries_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import distributed_prefix_sum

# ONE corpus tokenization, shared with the text/LM tier (two definitions
# would drift); tokens never contain whitespace, so a space-joined
# rendering is unambiguous.
from .text import tokens as _ws_tokens

__all__ = ["pack_sequences", "chunk_documents"]


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Pack whitespace-tokenized documents into fixed-length training
    sequences by concatenate-and-split, in global ``id_col`` order.

    Token at global position ``p`` (0-based, positions assigned by the
    distributed prefix sum of per-doc token counts) lands in sequence
    ``p div seq_len`` at offset ``p mod seq_len``. Returns one row per
    sequence:

    - ``seq_id``        — 0-based sequence number (long)
    - ``n_tokens``      — tokens in the sequence (== seq_len except the
      final partial sequence; the gap is the padding a loader would add)
    - ``n_docs``        — distinct documents contributing
    - ``first_doc`` / ``last_doc`` — id span of contributors
    - ``doc_starts``    — comma-joined in-sequence offsets where a new
      document begins ('' when the sequence is the interior of one long
      document) — the boundary list a block-diagonal attention mask is
      built from
    - ``seq_md5``       — md5 of the space-joined tokens in order (the
      content fingerprint; keeps the oracle comparison exact without
      shipping token arrays through the driver's hash)

    Scale: the prefix sum is two narrow passes over (id, count); the
    join back is one shuffle keyed by ``id_col``; the explode is linear
    and JVM-side; the final groupBy shuffles each token once with
    per-group state capped at ``seq_len`` rows. No global windows, no
    driver-side data, no skew (seq_ids are uniform by construction).

    ``id_col`` must be unique — it defines "the" concatenation order,
    which is what makes the packing reproducible on any cluster
    topology (and SQL-replayable). Duplicates are refused loudly by
    the prefix sum itself (detected inside its existing scan); they
    would otherwise fan out the offsets join and corrupt every output.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    clash = [c for c in ("__ntok", "__start") if c in docs.columns]
    if clash:
        raise ValueError(f"column name collision with operator temps: {clash}")

    nonempty = docs.filter(F.length(F.trim(F.col(text_col))) > 0)
    narrow = nonempty.select(
        id_col, F.size(_ws_tokens(F.col(text_col))).alias("__ntok")
    )
    cum = distributed_prefix_sum(
        narrow, id_col, "__ntok", out_col="__cum", num_partitions=num_partitions
    )
    starts = cum.select(
        id_col, (F.col("__cum") - F.col("__ntok")).alias("__start")
    )
    tok = (
        nonempty.select(id_col, text_col)
        .join(starts, id_col)
        .select(
            id_col,
            "__start",
            F.posexplode(_ws_tokens(F.col(text_col))).alias("__pos", "__token"),
        )
        .withColumn("__gpos", F.col("__start") + F.col("__pos"))
        .withColumn("__seq", F.expr(f"__gpos div {int(seq_len)}"))
        .withColumn("__off", F.col("__gpos") % F.lit(int(seq_len)))
    )
    ordered_tokens = F.transform(
        F.array_sort(F.collect_list(F.struct("__off", "__token"))),
        lambda x: x["__token"],
    )
    start_offsets = F.transform(
        F.array_sort(
            F.collect_list(F.when(F.col("__pos") == 0, F.col("__off")))
        ),
        lambda x: x.cast("string"),
    )
    return tok.groupBy(F.col("__seq").alias("seq_id")).agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct(id_col).alias("n_docs"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
        F.array_join(start_offsets, ",").alias("doc_starts"),
        F.md5(F.array_join(ordered_tokens, " ")).alias("seq_md5"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size overlapping character chunks
    (the RAG ingestion chunker). Chunk ``i`` covers characters
    ``[i*stride, i*stride + chunk_size)`` with ``stride = chunk_size -
    overlap``; the chunk count is the minimum needed to cover the whole
    document (a document shorter than one chunk yields exactly one).

    Returns one row per chunk: ``id_col``, ``chunk_idx`` (0-based),
    ``char_start`` (0-based), ``chunk_text``, ``chunk_len``. A NULL
    text yields NO chunks (the document is filtered, explicitly — a
    RAG index has nothing to embed for it); an empty string yields one
    empty chunk.

    Scale: pure narrow map — sequence/explode/substr inside whole-stage
    codegen, no shuffle, no UDF; cost is one scan of the text column
    regardless of corpus size. Output row count is
    ~``len/stride`` per document, bounded and predictable.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be positive")
    if not 0 <= overlap < chunk_size:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_size")
    stride = chunk_size - overlap
    # n_chunks = 1 + ceil(max(len - chunk_size, 0) / stride), in exact
    # integer arithmetic (the oracle replays the same formula).
    n_chunks = F.lit(1) + F.expr(
        f"(greatest(length({text_col}) - {int(chunk_size)}, 0)"
        f" + {int(stride) - 1}) div {int(stride)}"
    )
    out = (
        docs.filter(F.col(text_col).isNotNull())
        .withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1)))
        )
        .withColumn("char_start", (F.col("chunk_idx") * stride).cast("long"))
        .withColumn(
            "chunk_text",
            F.col(text_col).substr(
                (F.col("char_start") + 1).cast("int"), F.lit(int(chunk_size))
            ),
        )
        .withColumn("chunk_len", F.length("chunk_text").cast("long"))
    )
    return out.select(id_col, "chunk_idx", "char_start", "chunk_text", "chunk_len")
