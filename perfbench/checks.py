"""Output fingerprints and the frame comparison used against DuckDB.

A fingerprint is the row count plus an order-insensitive hash of the
rows, computed inside Spark so large results never reach Python.
Every value is first rendered as a string: floating-point numbers with
seven significant digits (``%.6e``), so a different summation order
cannot change the hash; integers by value, so a change of integer width
alone does not either; NULL as an explicit marker. The benchmark's
queries return flat scalar columns only. Each row hashes to a 64-bit
value (``xxhash64``); the fingerprint sums the two 32-bit halves
separately, which no row order can change.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NULL = "␀"


def _canon(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return F.format_string("%.6e", col.cast("double"))
    return col.cast("string")


def fingerprint(df: DataFrame) -> dict:
    """{"rows", "hash", "columns"} of ``df``; independent of row order."""
    fields = df.schema.fields
    cols = [F.coalesce(_canon(F.col(f"`{f.name}`"), f.dataType), F.lit(_NULL)) for f in fields]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    lo = F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))
    hi = F.shiftrightunsigned(F.col("h"), 32)
    row = (
        df.select(h.alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(lo).alias("lo"), F.sum(hi).alias("hi"))
        .first()
    )
    return {
        "rows": int(row["n"]),
        "hash": f"{(row['lo'] or 0):x}.{(row['hi'] or 0):x}",
        "columns": sorted(f.name for f in fields),
    }


def _norm(v):
    """Canonical Python value for comparing a Spark row with a DuckDB row."""
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalars
        v = v.item()
    if isinstance(v, (float, Decimal)):
        return None if math.isnan(v) else float(f"{float(v):.6e}")
    if isinstance(v, bool):
        return int(v)
    return v


def canonical_rows(pdf) -> list[tuple]:
    """Rows of a pandas frame with columns in name order, values
    normalized by ``_norm``, sorted: comparable across engines."""
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)
