"""Lake-maintenance introspection: distributed parquet FOOTER reads.

At 100 TB the first question about a table is never answered by
scanning it — it's answered by its metadata: row counts, per-column
min/max envelopes (what file skipping will actually prune — see
operators/zorder.py), null densities, row-group sizing (too-small row
groups kill scan throughput; too-large defeat predicate pushdown).
``parquet_footer_stats`` reads ONLY footers, distributed: the file
list is parallelized and each executor opens its files with pyarrow —
O(files) work, zero data pages touched. That distributed reader serves
table-wide audits (``verify_table``, ``prune_manifest_files``). A
versioned commit instead reads the footers of the few files it just
staged on the DRIVER, with the same per-file kernel
(:func:`footer_kernel`), so describing a commit costs no Spark job.

The same statistics parquet readers use for pruning are what this
reports, so the operator doubles as a data-skipping audit: run it
before and after a re-layout (zorder_layout) and the envelope widths
show exactly what a box filter will skip.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession


def parquet_footer_stats(
    spark: SparkSession,
    path: str | Sequence[str],
    columns: Sequence[str],
    files_per_task: int = 64,
    strict: bool = True,
) -> DataFrame:
    """Per-(file, column) footer statistics for numeric ``columns``,
    aggregated over the file's row groups: (file, column, n_values,
    null_count, min_val, max_val) with min/max as doubles (exact for
    ints < 2⁵³ and all floats — the engine's portable stats type).
    ``columns`` address parquet leaf columns by DOTTED PATH — a
    top-level name (``price``) or a struct leaf (``rating.average``,
    parquet records row-group statistics per leaf regardless of
    nesting); leaves under repeated (list) levels use the parquet
    path form and are not range-prunable here.

    The driver only LISTS file names (what any parquet reader does);
    footers are read on executors via pyarrow (:func:`footer_kernel`),
    ``files_per_task`` names per task. ``path`` is a directory, a single file, or an
    explicit file list (a versioned table's manifest). Local paths
    here; object-store URIs ride pyarrow's filesystems at the same
    call site.

    ``strict=True`` (default) raises on a row group missing statistics
    for a requested column — the audit contract. ``strict=False``
    reports unknown envelopes as null min/max instead (a pruning
    caller must treat null as "cannot skip", never as empty); a column
    absent from a file's schema entirely (older-schema files carried
    through a versioned table's manifest after a column was added) is
    likewise an unknown envelope, not an error. Counts are nulled
    whenever any row group lacked a statistics object, so partial
    totals are never mistaken for exact ones.

    Integer stats are rounded OUTWARD when the exact value does not
    fit a double (|v| ≥ 2⁵³): the reported envelope may be one ulp
    wider than the true one, never narrower — so pruning on it can
    only keep extra files, never drop a qualifying one.
    """
    if isinstance(path, str):
        names = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        ) if os.path.isdir(path) else [os.path.basename(path)]
        base = path if os.path.isdir(path) else os.path.dirname(path)
    else:
        names = sorted(path)
        base = ""
    if not names:
        raise ValueError(f"no parquet files under {path!r}")
    cols = list(columns)
    # fail fast on the driver: one footer read validates the columns
    # (the same cheap metadata fetch any reader does for schema)
    import pyarrow.parquet as pq

    if strict:
        first = pq.ParquetFile(os.path.join(base, names[0])).metadata
        have = {first.schema.column(i).path for i in range(first.num_columns)}
        missing = [c for c in cols if c not in have]
        if missing:
            raise ValueError(
                f"columns {missing} not in {names[0]} (has {sorted(have)})"
            )

    files_df = spark.createDataFrame(
        [(n,) for n in names], "file string"
    ).repartition(max(1, len(names) // files_per_task))
    read_footer = footer_kernel(cols, strict)

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (fname, *r)
                for fname in pdf["file"]
                for r in read_footer(os.path.join(base, fname))[1]
            ]
            res = pd.DataFrame(
                rows,
                columns=[
                    "file", "column", "n_values", "null_count",
                    "min_val", "max_val",
                ],
            )
            res["n_values"] = pd.array(
                [r[2] for r in rows], dtype="Int64"
            )
            res["null_count"] = pd.array(
                [r[3] for r in rows], dtype="Int64"
            )
            yield res

    return files_df.mapInPandas(
        read_footers,
        schema=(
            "file string, column string, n_values long, null_count long, "
            "min_val double, max_val double"
        ),
    )


def footer_kernel(columns: Sequence[str], strict: bool = True):
    """The per-file footer reader behind :func:`parquet_footer_stats`,
    returned as a closure: ``read(path) -> (num_rows, rows)`` with one
    ``(column, n_values, null_count, min_val, max_val)`` tuple per
    requested column, under exactly the operator's contract (dotted
    leaf paths, ``strict``, outward rounding, unknown envelopes).

    Two callers share it. The distributed operator ships it to
    executors for table-wide audits; a versioned commit calls it on
    the driver over the few files it just staged, which is how a
    commit learns its row count and envelopes without another Spark
    job. It is built by this factory, with its helpers and imports
    nested inside, so cloudpickle ships it BY VALUE: a module-level
    kernel would pickle by reference and make every executor import
    this package, which fails when the driver runs outside the
    package's root."""
    cols = list(columns)

    def read(path: str) -> tuple[int, list[tuple]]:
        import math

        import pyarrow.parquet as pq

        def to_lo(v):
            # exact Python comparison against the original value (int
            # and Decimal both compare exactly with float): if float()
            # rounded the min UP, step one ulp down so the envelope
            # stays outer. Values float() can convert but not compare
            # (numeric strings) take the plain conversion; values it
            # cannot convert at all (true text stats) return None =
            # unusable, handled by the caller like missing statistics.
            try:
                f = float(v)
            except (TypeError, ValueError):
                return None
            try:
                return math.nextafter(f, -math.inf) if f > v else f
            except TypeError:
                return f

        def to_hi(v):
            try:
                f = float(v)
            except (TypeError, ValueError):
                return None
            try:
                return math.nextafter(f, math.inf) if f < v else f
            except TypeError:
                return f

        fname = os.path.basename(path)
        md = pq.ParquetFile(path).metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        rows: list[tuple] = []
        for c in cols:
            if c not in idx:
                if strict:
                    raise ValueError(f"column {c!r} not in {fname}")
                # older-schema file (column added by a later commit):
                # unknown envelope, unknown counts
                rows.append((c, None, None, None, None))
                continue
            nv = 0
            nulls = 0
            mn = mx = None
            unknown = False
            counts_exact = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or st.min is None or st.max is None:
                    if strict:
                        raise ValueError(
                            f"no statistics for {c!r} in {fname} rg{rg}"
                        )
                    unknown = True
                    if st is not None:
                        nv += st.num_values
                        nulls += st.null_count
                    else:
                        # no statistics object at all: this row group
                        # contributed nothing — the totals are
                        # partial, not exact
                        counts_exact = False
                    continue
                lo, hi = to_lo(st.min), to_hi(st.max)
                if lo is None or hi is None:
                    # stats exist but aren't float-convertible (true
                    # text columns): unusable envelope
                    if strict:
                        raise ValueError(
                            f"non-numeric statistics for {c!r} in "
                            f"{fname} rg{rg}"
                        )
                    unknown = True
                    nv += st.num_values
                    nulls += st.null_count
                    continue
                nv += st.num_values
                nulls += st.null_count
                mn = lo if mn is None else min(mn, lo)
                mx = hi if mx is None else max(mx, hi)
            if unknown:
                # a single stat-less row group poisons the whole file's
                # envelope: the file may hold anything
                mn = mx = None
            rows.append((
                c,
                nv if counts_exact else None,
                nulls if counts_exact else None,
                mn,
                mx,
            ))
        return md.num_rows, rows

    return read


def compact_small_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_cols: Sequence[str] | None = None,
) -> dict:
    """Bin-pack a fragmented parquet directory into ~``target_file_bytes``
    files — the lake-maintenance operator every streaming/append
    pipeline needs (thousands of kilobyte files turn a 100 TB scan into
    an open()-bound crawl; the reference's daily batch never fragments
    because a single pandas process writes one file a day).

    Sizing comes from file metadata only (no data read): output file
    count = ceil(input_bytes / target). With ``order_cols`` the data is
    range-partitioned on those columns before writing, so compaction
    doubles as a re-cluster — per-file min/max envelopes stay tight and
    file skipping keeps working (verify with parquet_footer_stats /
    zorder_layout). Without, a round-robin repartition balances bytes.

    Returns {"n_files_in", "n_files_out", "bytes_in"}. Local-fs sizing
    (os.stat over the scan's inputFiles); an object-store deployment
    swaps in its FileSystem listing — the plan shape is unchanged.
    """
    df = spark.read.parquet(in_path)
    files = [f.removeprefix("file:") for f in df.inputFiles()]
    bytes_in = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-bytes_in // target_file_bytes))
    if order_cols:
        packed = df.repartitionByRange(n_out, *order_cols)
    else:
        packed = df.repartition(n_out)
    packed.write.mode("overwrite").parquet(out_path)
    n_files_out = len(
        [f for f in os.listdir(out_path) if f.endswith(".parquet")]
    )
    return {
        "n_files_in": len(files),
        "n_files_out": n_files_out,
        "bytes_in": bytes_in,
    }


# The Bloom index frame's one schema, shared by every writer: the empty
# zero-new-files dirs maintain_bloom_index writes must match the frames
# build_file_bloom_index emits, or a chained union read over mixed dirs
# infers from an arbitrary file and diverges.
BLOOM_INDEX_SCHEMA = "file string, word long, bits long"


def build_file_bloom_index(
    spark: SparkSession,
    files: Sequence[str],
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Per-FILE Bloom index for point-lookup scan pruning — the
    Delta/Iceberg bloom-index analog, in pure DataFrame algebra.

    Min-max envelopes (``parquet_footer_stats`` / ``zorder_layout``)
    prune range predicates on CLUSTERED columns; they are useless for
    equality lookups on a high-cardinality column the layout was not
    sorted by — every file's [min,max] spans the whole domain. A
    per-file Bloom bitmap answers "can file F contain key x?" in
    O(k) bit tests regardless of layout.

    Returns a sparse ``(file string, word long, bits long)`` frame (file
    = the scan's ``_metadata.file_path`` URI, the unambiguous identity
    — normalize with urlparse+unquote to compare against OS paths) — at
    most ``m_bits/64`` rows per file; persist it as parquet next to the
    table (or pass a versioned table's manifest file list) and it is an
    at-rest index maintained per commit. Build is one map-side-combined
    groupBy over ``(file, word)``; hashes are ``xxhash64`` (same family
    as ``operators/bloom.py``) computed JVM-side, and need no
    cross-engine portability because probes hash in-engine too.
    """
    from pyspark.sql import functions as F

    # file identity = the RAW _metadata.file_path URI, verbatim. Stripping
    # the scheme here used to leave paths percent-ENCODED but scheme-less,
    # which no normalizer could safely decode (is '%20' an encoded space
    # or a literal?): a table path containing a space then failed every
    # identity comparison and a pruned read silently dropped all files.
    # A full URI round-trips through urlparse+unquote unambiguously.
    # key_col may be a DOTTED struct-leaf path (nested Bloom indexes,
    # e.g. "rating.average") — alias to a stable internal name so the
    # hash below never re-parses the path against the projected frame
    df = spark.read.parquet(*files).select(
        F.col(key_col).alias("__bloom_key"),
        F.col("_metadata.file_path").alias("file"),
    )
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_seed")
    pos = F.pmod(F.xxhash64(F.col("__bloom_key"), F.col("_seed")), F.lit(m_bits))
    return (
        df.select("file", F.col("__bloom_key"), seeds)
        .select("file", pos.alias("_pos"))
        .select(
            "file",
            (F.col("_pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_mask"
            ),
        )
        .groupBy("file", "word")
        .agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_qualified_files(
    spark: SparkSession,
    index: DataFrame,
    key_col: str,
    key_type,
    keys: Sequence,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> set[str]:
    """Files the per-file Bloom ``index`` cannot rule out for ``key_col
    IN keys`` — the probe half of :func:`build_file_bloom_index`,
    shared by :func:`bloom_file_lookup` and the versioned pruned read.

    No false negatives by Bloom construction: the returned set is a
    superset of the files holding matches, so intersecting a scan's
    file list with it and re-applying the exact predicate is
    bit-identical to a full scan. One broadcast join probe against the
    index; the collect is bounded by the table's FILE count.
    ``key_type`` must be the TABLE's Spark type for ``key_col`` so the
    probe hashes the same bytes the build hashed.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    if not len(keys):
        return set()
    # the probe frame's column name is internal — ``key_col`` may be a
    # dotted struct-leaf path (nested Bloom indexes) that F.col would
    # re-parse as a path against this flat frame
    kdf = spark.createDataFrame(
        [(x,) for x in keys],
        schema=StructType([StructField("__bloom_key", key_type)]),
    )
    kc = F.col("__bloom_key")
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("_seed")
    probes = (
        kdf.select(kc, seeds)
        .select(
            kc,
            F.col("_seed"),
            F.pmod(F.xxhash64(kc, F.col("_seed")), F.lit(m_bits)).alias(
                "_pos"
            ),
        )
        .select(
            kc,
            F.col("_seed"),
            (F.col("_pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias(
                "_mask"
            ),
        )
    )
    qualified = (
        index.join(F.broadcast(probes), "word")
        .filter(F.col("bits").bitwiseAND(F.col("_mask")) != 0)
        .groupBy("file", "__bloom_key")
        .agg(F.count_distinct("_seed").alias("_hits"))
        .filter(F.col("_hits") == k)
        .select("file")
        .distinct()
    )
    return {r["file"] for r in qualified.collect()}


def bloom_file_lookup(
    spark: SparkSession,
    files: Sequence[str],
    index: DataFrame,
    key_col: str,
    keys: Sequence,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """``SELECT * WHERE key_col IN keys`` reading ONLY the files the
    Bloom index cannot rule out.

    Exact by construction: Bloom filters have no false negatives, so
    the pruned file set is a superset of the files holding matches and
    the final ``isin`` filter makes the result identical to a full
    scan — false positives cost extra file reads, never wrong rows.
    The probe is one broadcast join of the (tiny) key-probe frame
    against the index plus a collect bounded by the table's FILE count;
    ``keys`` is a driver-side list by contract (point-lookup workload —
    for key sets at data scale use ``operators/bloom.py``'s
    ``bloom_semi_join`` instead).
    """
    from pyspark.sql import functions as F

    if not len(files):
        raise ValueError("bloom_file_lookup needs a non-empty file list")
    base = spark.read.parquet(*files)
    if not len(keys):
        return base.filter(F.lit(False))
    # probes must hash the same bytes the build hashed: bind the key
    # column to the TABLE's type, not whatever Python inference picks
    key_type = {f.name: f.dataType for f in base.schema}[key_col]
    hit_files = sorted(
        bloom_qualified_files(spark, index, key_col, key_type, keys, m_bits, k)
    )
    if not hit_files:
        return base.filter(F.lit(False))
    return spark.read.parquet(*hit_files).filter(F.col(key_col).isin(list(keys)))
