"""Operator-backed registry entries — drive the standalone operators
(incremental rollup, salted aggregation, grouped applyInPandas, keyed
parquet merge, real image decode) through the same DuckDB-oracle gate as
the relational queries, so "tested" means driver-checked, not just
pytest-checked.

Each query here composes a real operator with a deterministic scenario
built from the driver corpus (TESTDATA.md tables only). Materializing
operators (rollup refresh, merge, the versioned lake) write inside one
``queries.scratch_dir`` block per call, fold through their real write
path, and return ``materialize(final table)`` from inside the block:
the result is pinned at the session's tier (``session.materialize``)
before the block deletes the directory, so nothing leaks and nothing
reads a deleted file.

Value-parity rules follow queries.py: decimal-exact money sums, integer
microsecond time arithmetic, identical aliases both dialects.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .operators.dedup import passage_dedup
from .operators.grouped import user_behavior_features
from .operators.multimodal import audio_stats, image_stats
from .operators.rollup import refresh_rollup
from .operators.skew import salted_agg
from .queries import _dec, _t, scratch_dir
from .session import materialize
from .sinks.merge import merge_parquet


# ---------------------------------------------------------------------------
# incremental rollup (operators/rollup.py)
# ---------------------------------------------------------------------------


def q_rollup_refresh(spark, sf):
    """Hypertable-style continuous aggregate, driven through its real
    two-refresh path: the events table arrives as two increments (first
    vs. second half of each month); each refresh folds partials into the
    materialized rollup. The final rollup must equal the from-scratch
    hourly aggregation — the decomposability contract
    ``merge(rollup(a), rollup(b)) == rollup(a ∪ b)`` under the oracle.
    """
    e = _t(spark, sf, "events")
    aggs = [
        ("count", "event_id", "n_events"),
        ("min", "value", "min_value"),
        ("max", "value", "max_value"),
    ]
    with scratch_dir("q_rollup_") as d:
        path = os.path.join(d, "rollup")
        refresh_rollup(
            spark, e.filter(F.dayofmonth("ts") <= 15), path, "ts", "hour",
            ["event_type"], aggs,
        )
        refresh_rollup(
            spark, e.filter(F.dayofmonth("ts") > 15), path, "ts", "hour",
            ["event_type"], aggs,
        )
        return materialize(
            spark.read.parquet(path).select(
                "bucket_start", "event_type", "n_events", "min_value", "max_value"
            )
        )


SQL_ROLLUP_REFRESH = """
SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       COUNT(*) AS n_events, MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# salted aggregation (operators/skew.py)
# ---------------------------------------------------------------------------


def q_salted_agg_events(spark, sf):
    """Two-phase salted aggregation over the (skew-prone) event_type
    key — value-identical to the plain GROUP BY the oracle runs; only
    the shuffle layout differs (no reducer sees a whole hot key).
    Money sums ride the decimal-exact path so partial-merge order can't
    perturb the double."""
    e = _t(spark, sf, "events").withColumn("value_dec", _dec("value"))
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs=[
            ("count", "event_id", "n_events"),
            ("sum", "value_dec", "sum_value"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value"),
        ],
        salt_on="event_id",
        buckets=16,
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    )


SQL_SALTED_AGG_EVENTS = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# grouped applyInPandas (operators/grouped.py)
# ---------------------------------------------------------------------------


def q_user_features(spark, sf):
    """Per-user behavioral features via grouped ``applyInPandas`` —
    the imperative per-key path checked against a pure-SQL window
    formulation. Gap stats ride integer microseconds (exact in both
    engines); mean is a single IEEE division."""
    return user_behavior_features(_t(spark, sf, "events"), gap_minutes=30)


SQL_USER_FEATURES = """
WITH gaps AS (
  SELECT user_id, event_id, event_type,
    epoch_us(ts) - lag(epoch_us(ts)) OVER (
       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id, COUNT(*) AS n_events,
       COUNT(*) FILTER (WHERE gap_us > 1800000000) + 1 AS n_sessions,
       CAST(SUM(gap_us) AS DOUBLE) / (COUNT(gap_us) * 1000000.0) AS mean_gap_s,
       CAST(MAX(gap_us) AS DOUBLE) / 1000000.0 AS max_gap_s,
       COUNT(DISTINCT event_type) AS n_types
FROM gaps GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# keyed parquet merge (sinks/merge.py)
# ---------------------------------------------------------------------------


def q_merge_upsert_orders(spark, sf):
    """The idempotent MERGE sink driven through its real two-write
    path: seed the table with all orders, then merge an increment that
    re-prices even-keyed orders (×2). Incoming must win per key,
    untouched keys must survive — the oracle states the end table
    directly."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_merge_") as d:
        path = os.path.join(d, "orders_merged")
        merge_parquet(spark, o, path, keys=["o_orderkey"])
        increment = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice",
            (_dec("o_totalprice") * 2).cast("double"),
        )
        merge_parquet(spark, increment, path, keys=["o_orderkey"])
        return materialize(
            spark.read.parquet(path).select(
                "o_orderkey", "o_orderstatus", "o_totalprice"
            )
        )


SQL_MERGE_UPSERT_ORDERS = """
SELECT o_orderkey, o_orderstatus,
       CASE WHEN o_orderkey % 2 = 0
            THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DOUBLE)
            ELSE o_totalprice END AS o_totalprice
FROM orders
"""


def q_scd2_customer_history(spark, sf):
    """SCD Type-2 dimension history (sinks/merge.py scd2_merge) through
    its REAL three-batch path: customers load at t1; at t2 every
    custkey divisible by 3 moves to segment 'PROMO'; at t3 every
    custkey divisible by 5 moves nation (+1). The oracle constructs the
    exact expected history table — close/reopen per change, unchanged
    keys passing through untouched, cumulative attributes carried
    forward — so any slip in change detection (incl. the null-safe
    comparison), row closing, or pass-through breaks the match."""
    from .sinks.merge import scd2_merge

    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    with scratch_dir("q_scd2_") as d:
        path = os.path.join(d, "dim_customer")
        scd2_merge(spark, c, path, ["c_custkey"],
                   ["c_mktsegment", "c_nationkey"], "2024-01-01")
        b2 = c.withColumn(
            "c_mktsegment",
            F.when(F.col("c_custkey") % 3 == 0, F.lit("PROMO")).otherwise(
                F.col("c_mktsegment")
            ),
        )
        scd2_merge(spark, b2, path, ["c_custkey"],
                   ["c_mktsegment", "c_nationkey"], "2024-02-01")
        b3 = b2.withColumn(
            "c_nationkey",
            F.when(F.col("c_custkey") % 5 == 0, F.col("c_nationkey") + 1).otherwise(
                F.col("c_nationkey")
            ),
        )
        scd2_merge(spark, b3, path, ["c_custkey"],
                   ["c_mktsegment", "c_nationkey"], "2024-03-01")
        return materialize(
            spark.read.parquet(path).select(
                "c_custkey", "c_mktsegment", "c_nationkey",
                "valid_from", "valid_to", "is_current",
            )
        )


SQL_SCD2_CUSTOMER_HISTORY = """
WITH c AS (SELECT c_custkey, c_mktsegment, c_nationkey,
                  c_custkey % 3 = 0 AS chg2, c_custkey % 5 = 0 AS chg3
           FROM customer)
SELECT c_custkey, c_mktsegment, c_nationkey,
       '2024-01-01' AS valid_from,
       CASE WHEN chg2 THEN '2024-02-01' WHEN chg3 THEN '2024-03-01' END AS valid_to,
       NOT (chg2 OR chg3) AS is_current
FROM c
UNION ALL
SELECT c_custkey, 'PROMO', c_nationkey, '2024-02-01',
       CASE WHEN chg3 THEN '2024-03-01' END,
       NOT chg3
FROM c WHERE chg2
UNION ALL
SELECT c_custkey,
       CASE WHEN chg2 THEN 'PROMO' ELSE c_mktsegment END,
       c_nationkey + 1, '2024-03-01', NULL, TRUE
FROM c WHERE chg3
"""


def q_bucketed_join_revenue(spark, sf):
    """The co-located (shuffle-free) join through its REAL path: both
    sides written as bucketed+sorted catalog tables on the join key,
    then joined — the sort-merge join reads bucket i of both sides
    directly, no Exchange, no sort (plan locked by
    tests/test_asof_bucketed_sql.py). The one-time bucketed write is
    the 100 TB amortization move for a fact table joined on the same
    key every day. Oracle states the plain join+agg result."""
    import uuid

    from .sinks.bucketed import read_bucketed, write_bucketed

    tag = uuid.uuid4().hex[:8]
    t_orders, t_li = f"q_bkt_orders_{tag}", f"q_bkt_lineitem_{tag}"
    with scratch_dir("q_bucketed_") as d:
        try:
            write_bucketed(
                _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus"),
                t_orders,
                bucket_by=["o_orderkey"],
                num_buckets=8,
                path=os.path.join(d, "orders"),
                sort_by=["o_orderkey"],
            )
            write_bucketed(
                _t(spark, sf, "lineitem").select(
                    "l_orderkey", "l_extendedprice", "l_discount"
                ),
                t_li,
                bucket_by=["l_orderkey"],
                num_buckets=8,
                path=os.path.join(d, "lineitem"),
                sort_by=["l_orderkey"],
            )
            o, li = read_bucketed(spark, t_orders), read_bucketed(spark, t_li)
            rev = _dec("l_extendedprice") * (1 - _dec("l_discount", "decimal(4,2)"))
            return materialize(
                o.join(li, o.o_orderkey == li.l_orderkey)
                .groupBy("o_orderstatus")
                .agg(
                    F.count("*").alias("n_lines"),
                    F.sum(rev).cast("double").alias("revenue"),
                )
            )
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
            spark.sql(f"DROP TABLE IF EXISTS {t_li}")


SQL_BUCKETED_JOIN_REVENUE = """
SELECT o_orderstatus, COUNT(*) AS n_lines,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
         * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# real image decode (operators/multimodal.py)
# ---------------------------------------------------------------------------


def q_image_decode(spark, sf):
    """N5 with REAL decode under the oracle gate: deterministic P6
    payloads are built from each ASCII document's first 24 bytes, then
    decoded distributed (pure-numpy PPM decoder via mapInPandas). The
    oracle recomputes (width, height, channels, mean_pixel) from the
    same characters — decoding must invert the encoding exactly."""
    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 24))
    )
    payload = F.concat(
        F.lit(b"P6\n4 2\n255\n"), F.substring("text", 1, 24).cast("binary")
    )
    imgs = d.select("doc_id", payload.alias("payload"))
    return image_stats(imgs, "payload", "doc_id")


SQL_IMAGE_DECODE = """
SELECT doc_id, 4 AS width, 2 AS height, 3 AS channels,
       ROUND(list_sum(list_transform(range(1, 25),
                      i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE))) / 24, 6)
         AS mean_pixel
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
"""


def q_png_decode(spark, sf):
    """N5 PNG under the oracle gate: each ASCII document's first 24
    bytes become the 4×2 RGB raster of a REAL zlib-deflated PNG
    (encoded distributed in one Arrow-batched pass), then decoded back
    by the stdlib-zlib + numpy PNG decoder. The oracle recomputes
    (width, height, channels, mean_pixel) from the same characters —
    decode must invert the deflate + filter encoding exactly."""
    pngs = _doc_png_frames(spark, sf)
    return image_stats(pngs, "payload", "doc_id")


SQL_PNG_DECODE = """
SELECT doc_id, 4 AS width, 2 AS height, 3 AS channels,
       ROUND(list_sum(list_transform(range(1, 25),
                      i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE))) / 24, 6)
         AS mean_pixel
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
"""


def q_jpeg_decode(spark, sf):
    """N5 baseline JPEG under the HARD oracle gate. Lossy codecs and
    oracles normally don't mix, but a flat 8×8 block with an EVEN pixel
    value survives quantization exactly (one DC coefficient, 8d/16
    rounds exactly for even d — jpegcodec.py docstring), so each
    document's first text byte (forced even) becomes a flat RGB JPEG
    that must decode back bit-exactly through the full entropy-coded
    path: marker parse, Huffman, dequantize, IDCT, YCbCr→RGB."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.jpegcodec import encode_jpeg

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 1))
        .select(
            "doc_id",
            (F.ascii(F.substring("text", 1, 1))
             - F.pmod(F.ascii(F.substring("text", 1, 1)), F.lit(2))).alias("gray"),
        )
    )

    def enc(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            payloads = [
                encode_jpeg(_np.full((8, 8, 3), int(v), dtype=_np.uint8))
                for v in pdf["gray"]
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    jpgs = d.mapInPandas(enc, schema="doc_id long, payload binary")
    return image_stats(jpgs, "payload", "doc_id")


SQL_JPEG_DECODE = """
SELECT doc_id, 8 AS width, 8 AS height, 3 AS channels,
       CAST(ascii(substr(text, 1, 1)) - ascii(substr(text, 1, 1)) % 2 AS DOUBLE)
         AS mean_pixel
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 1
"""


def q_jpeg_progressive_decode(spark, sf):
    """N5 PROGRESSIVE JPEG (SOF2) under the same HARD oracle gate as
    the baseline entry: flat even-gray rasters survive quantization
    exactly, so the full multi-scan path — DC successive approximation
    (first pass + refinement bit), AC spectral-selection first passes
    riding cross-block EOB runs, and two AC refinement passes with
    correction-bit buffering (operators/jpegprog.py) — must reproduce
    the pixel bit-exactly through the distributed image_stats path."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.jpegprog import encode_jpeg_progressive

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 1))
        .select(
            "doc_id",
            (F.ascii(F.substring("text", 1, 1))
             - F.pmod(F.ascii(F.substring("text", 1, 1)), F.lit(2))).alias("gray"),
        )
    )

    def enc(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            payloads = [
                encode_jpeg_progressive(
                    _np.full((8, 8, 3), int(v), dtype=_np.uint8)
                )
                for v in pdf["gray"]
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    jpgs = d.mapInPandas(enc, schema="doc_id long, payload binary")
    return image_stats(jpgs, "payload", "doc_id")


SQL_JPEG_PROGRESSIVE_DECODE = SQL_JPEG_DECODE


def q_gif_decode(spark, sf):
    """N5 GIF under the HARD oracle gate: each ASCII document's first
    24 bytes become a 4×6 grayscale raster LZW-compressed into a real
    GIF87a (identity gray palette → LOSSLESS), decoded back through
    variable-width LZW + palette mapping. The oracle recomputes
    (width, height, channels, mean_pixel) from the same characters."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.gifcodec import encode_gif

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 24))
        .select("doc_id", F.substring("text", 1, 24).cast("binary").alias("raster"))
    )

    def enc(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            payloads = [
                encode_gif(
                    _np.frombuffer(bytes(r), dtype=_np.uint8).reshape(4, 6, 1)
                )
                for r in pdf["raster"]
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    gifs = d.mapInPandas(enc, schema="doc_id long, payload binary")
    return image_stats(gifs, "payload", "doc_id")


SQL_GIF_DECODE = """
SELECT doc_id, 6 AS width, 4 AS height, 3 AS channels,
       ROUND(list_sum(list_transform(range(1, 25),
                      i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE))) / 24, 6)
         AS mean_pixel
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
"""


def q_video_frames(spark, sf):
    """N5 video under the HARD oracle gate: four flat MJPEG frames
    (documents' first 4 text bytes, forced even so the lossy JPEG tier
    is exact — see q_jpeg_decode) are muxed into a real RIFF/AVI
    container per document, every 2nd frame is sampled by the
    chunk-walk demuxer, and each sampled frame decodes through the
    JPEG codec. The oracle predicts (frame_no, mean_pixel) straight
    from the text characters: sampled frame k is source frame 2k,
    built from byte 2k+1."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.jpegcodec import encode_jpeg
    from .operators.multimodal import mux_avi, sample_frames

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 4))
        .select("doc_id", F.substring("text", 1, 4).cast("binary").alias("raster"))
    )

    def enc(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            payloads = []
            for r in pdf["raster"]:
                vals = [v - (v % 2) for v in bytes(r)]
                frames = [
                    encode_jpeg(_np.full((8, 8, 3), v, dtype=_np.uint8)) for v in vals
                ]
                payloads.append(mux_avi(frames, 8, 8))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    avis = d.mapInPandas(enc, schema="doc_id long, payload binary")
    sampled = sample_frames(avis, "payload", "doc_id", every_n=2)
    keyed = sampled.select(
        (F.col("doc_id") * 10 + F.col("frame_no")).alias("fid"), "frame"
    )
    stats = image_stats(keyed, "frame", "fid")
    return stats.select(
        F.floor(F.col("fid") / 10).cast("long").alias("doc_id"),
        F.pmod("fid", F.lit(10)).cast("int").alias("frame_no"),
        "width",
        "height",
        "mean_pixel",
    )


def q_rest_pages_distributed(spark, sf):
    """S1 scale path under the oracle gate: the mapInPandas page fan-out
    (sources/rest.py:fetch_pages_distributed) run against a
    deterministic arithmetic transport — 2021 records served in
    100-record offset pages (partial last page, then empty pages), each
    record computed from its global index alone. The workers really
    execute the fan-out (the page space is spark.range partitioned
    across 8 tasks); the oracle regenerates the record space directly.
    No sf tables involved by design: the source's contract is the
    pagination algebra, not the corpus."""
    from pyspark.sql.types import StructType

    from .sources.rest import FetchPolicy, fetch_pages_distributed

    n_records = 2021

    def transport(offset: int, number: int) -> tuple[list[dict], dict]:
        hi = min(offset + number, n_records)
        return (
            [{"rec_id": i, "val": (i * i) % 97} for i in range(min(offset, hi), hi)],
            {},
        )

    return fetch_pages_distributed(
        spark,
        transport,
        StructType.fromDDL("rec_id long, val long"),
        n_pages=25,  # 21 real pages + 4 empty ones past the end
        policy=FetchPolicy(page_size=100),
        num_partitions=8,
    )


SQL_REST_PAGES_DISTRIBUTED = """
SELECT CAST(i AS BIGINT) AS rec_id, CAST((i * i) % 97 AS BIGINT) AS val
FROM range(2021) t(i)
"""


def q_video_meta(spark, sf):
    """N5 MP4/ISO-BMFF box-tree demux under the oracle gate: a
    metadata-complete MP4 is synthesized per document from (doc_id,
    text length) alone — brand mp42/isom by id parity, duration
    ``tlen/10`` s, a video track (avc1/hvc1 by id%2, width 16·(tlen%20
    +1), height 16·(tlen%12+1), tlen%9+1 samples) on ids not divisible
    by 7, an audio track (mp4a, rate 44100/48000 by id%3 != 0 … rate =
    44100 + 3900·(id%2)) on ids not divisible by 5 — then ``mp4_meta``
    walks the real box tree distributed. The oracle predicts every
    column from the same arithmetic; any box-walk slip (size math,
    largesize, fixed-point width) breaks the match."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.multimodal import mp4_meta, mux_mp4

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.length("text").alias("tlen"))
    )

    def synth(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        def mk(doc_id: int, tlen: int) -> bytes:
            video = None
            if doc_id % 7:
                codec = b"avc1" if doc_id % 2 == 0 else b"hvc1"
                video = (codec, 16 * (tlen % 20 + 1), 16 * (tlen % 12 + 1),
                         tlen % 9 + 1)
            audio = None
            if doc_id % 5:
                audio = (b"mp4a", 44100 + 3900 * (doc_id % 2))
            return mux_mp4(
                b"mp42" if doc_id % 2 == 0 else b"isom",
                (tlen % 100) / 10.0,
                video,
                audio,
            )

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(int(i), int(t))
                        for i, t in zip(pdf["doc_id"], pdf["tlen"])
                    ],
                }
            )

    vids = d.mapInPandas(synth, schema="doc_id long, payload binary")
    return mp4_meta(vids, "payload", "doc_id")


SQL_VIDEO_META = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'mp42' ELSE 'isom' END AS major_brand,
       CAST(length(text) % 100 AS DOUBLE) / 10.0 AS duration_s,
       CAST((CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)
            + (CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS INTEGER)
         AS n_tracks,
       CASE WHEN doc_id % 7 <> 0
            THEN (CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hvc1' END)
       END AS video_codec,
       CASE WHEN doc_id % 7 <> 0
            THEN CAST(16 * (length(text) % 20 + 1) AS INTEGER) END AS width,
       CASE WHEN doc_id % 7 <> 0
            THEN CAST(16 * (length(text) % 12 + 1) AS INTEGER) END AS height,
       CASE WHEN doc_id % 7 <> 0
            THEN CAST(length(text) % 9 + 1 AS BIGINT) END AS n_video_samples,
       CASE WHEN doc_id % 5 <> 0 THEN 'mp4a' END AS audio_codec,
       CASE WHEN doc_id % 5 <> 0
            THEN CAST(44100 + 3900 * (doc_id % 2) AS BIGINT) END AS audio_rate
FROM documents WHERE text IS NOT NULL
"""


def q_mp4_samples(spark, sf):
    """N5 per-sample MP4 sample-table walk under the oracle gate: the
    same synthesized box trees as ``video_meta`` (video-track docs
    only, n = tlen%9+1 samples), but demuxed down to the SAMPLE level —
    stsz per-sample sizes (100+i by construction) and stts run
    expansion (the muxer writes ceil(n/2) samples at 500 ticks then the
    rest at 700), with cumulative decode timestamps. The oracle
    predicts every row from closed-form arithmetic: size = 100+i,
    dt = 500 or 700 by run membership, ts = 500·i or
    500·⌈n/2⌉ + 700·(i−⌈n/2⌉). Any slip in run expansion, size-table
    bounds, or the stts/stsz count cross-check breaks the match."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.multimodal import mp4_samples, mux_mp4

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 7 != 0))
        .select("doc_id", F.length("text").alias("tlen"))
    )

    def synth(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        def mk(doc_id: int, tlen: int) -> bytes:
            codec = b"avc1" if doc_id % 2 == 0 else b"hvc1"
            return mux_mp4(
                b"mp42" if doc_id % 2 == 0 else b"isom",
                (tlen % 100) / 10.0,
                (codec, 16 * (tlen % 20 + 1), 16 * (tlen % 12 + 1),
                 tlen % 9 + 1),
                None,
            )

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(int(i), int(t))
                        for i, t in zip(pdf["doc_id"], pdf["tlen"])
                    ],
                }
            )

    vids = d.mapInPandas(synth, schema="doc_id long, payload binary")
    return mp4_samples(vids, "payload", "doc_id")


SQL_MP4_SAMPLES = """
WITH d AS (
  SELECT doc_id, length(text) % 9 + 1 AS n, (length(text) % 9 + 2) // 2 AS h
  FROM documents WHERE text IS NOT NULL AND doc_id % 7 <> 0
)
SELECT doc_id,
       CAST(i AS BIGINT) AS sample_idx,
       CAST(100 + i AS BIGINT) AS size_bytes,
       CAST(CASE WHEN i < h THEN 500 ELSE 700 END AS BIGINT) AS dt_ticks,
       CAST(CASE WHEN i < h THEN 500 * i
                 ELSE 500 * h + 700 * (i - h) END AS BIGINT) AS ts_ticks
FROM d, UNNEST(range(0, n)) AS u(i)
"""


def q_lm_quality(spark, sf):
    """CCNet-style LM quality scoring (operators/lm.py): a bigram LM
    trains on the src0 reference slice (two aggregations, one corpus
    pass), every document is scored by LEFT-JOINing its exploded
    bigrams against the count tables. The entry exposes the
    INTEGER-exact signals — bigram/context hit counts and a per-mille
    coverage score — under the oracle; the float cross-entropy/
    perplexity the same aggregation computes ride the pure-Python
    replay in tests/test_lm.py (IEEE sum order, same policy as the
    sketch tier's exact twins)."""
    from .operators.lm import score_bigram_lm, train_bigram_lm

    docs = _t(spark, sf, "documents")
    bigrams, contexts, v = train_bigram_lm(docs.filter(F.col("source") == "src0"))
    return score_bigram_lm(docs, bigrams, contexts, v).select(
        "doc_id", "n_bigrams", "known_bigrams", "known_contexts", "coverage_pm"
    )


SQL_LM_QUALITY = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t FROM documents
),
big AS (
  SELECT doc_id, source, t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
ref AS (SELECT a, b, COUNT(*) AS c_ab FROM big WHERE source = 'src0' GROUP BY a, b),
ctx AS (SELECT a, SUM(c_ab) AS c_a FROM ref GROUP BY a)
SELECT d.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(CASE WHEN r.c_ab IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS known_bigrams,
       CAST(SUM(CASE WHEN c.c_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS known_contexts,
       CAST(1000 * SUM(CASE WHEN r.c_ab IS NOT NULL THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS coverage_pm
FROM big d
LEFT JOIN ref r ON d.a = r.a AND d.b = r.b
LEFT JOIN ctx c ON d.a = c.a
GROUP BY d.doc_id
"""


def q_ccnet_buckets(spark, sf):
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020 §4.3;
    operators/lm.py quality_buckets) on the integer-exact LM signal:
    score every document against the src0 reference LM, cut the corpus
    into thirds by SCORE VALUE (equal scores always share a bucket —
    CCNet's threshold semantics, not NTILE row-splitting), assign with
    a broadcast CASE. The thresholds come from a groupBy on the
    bounded per-mille score domain, so no global sort ever touches
    document rows — the same plan at 100 TB."""
    from .operators.lm import quality_buckets, score_bigram_lm, train_bigram_lm

    docs = _t(spark, sf, "documents")
    bigrams, contexts, v = train_bigram_lm(docs.filter(F.col("source") == "src0"))
    scored = score_bigram_lm(docs, bigrams, contexts, v).select(
        "doc_id", "coverage_pm"
    )
    return quality_buckets(scored, "coverage_pm")


SQL_CCNET_BUCKETS = f"""
WITH lm AS ({SQL_LM_QUALITY}),
n AS (SELECT COUNT(*) AS n FROM lm),
d AS (SELECT coverage_pm, COUNT(*) AS c FROM lm GROUP BY coverage_pm),
r AS (SELECT coverage_pm AS s, SUM(c) OVER (ORDER BY coverage_pm DESC) AS cum FROM d),
thr AS (SELECT
  MAX(CASE WHEN cum >= (SELECT (n + 2) // 3 FROM n) THEN s END) AS head_thr,
  MAX(CASE WHEN cum >= (SELECT (2 * n + 2) // 3 FROM n) THEN s END) AS mid_thr
FROM r)
SELECT lm.doc_id, lm.coverage_pm,
  CASE WHEN lm.coverage_pm >= thr.head_thr THEN 'head'
       WHEN lm.coverage_pm >= thr.mid_thr THEN 'middle'
       ELSE 'tail' END AS bucket
FROM lm, thr
"""


def q_dsir_sample(spark, sf):
    """DSIR data selection (Xie et al. 2023; operators/lm.py
    dsir_weights + dsir_sample): score every document by the
    integer-quantized bigram log-likelihood ratio between the src0
    target slice's LM and the raw-corpus LM (δ per bigram =
    whole-bit ilog2 difference of the two counts — pure string/integer
    ops, no IEEE log anywhere near the sample decision), shift scores
    to positive weights, and draw ~200 documents by deterministic
    systematic PPS over the distributed prefix sum. No RNG end-to-end,
    so the oracle replays the IDENTICAL sample: counts via SQL, ilog2
    via length(bin(c+1)), the sampler via a window sum — any drift in
    scoring, shifting, or sample placement breaks the hash."""
    from .operators.lm import dsir_sample

    docs = _t(spark, sf, "documents")
    return dsir_sample(
        docs, docs.filter(F.col("source") == "src0"), k=200, num_partitions=8
    ).select("doc_id", "n_bigrams", "dsir_score", "dsir_weight")


SQL_DSIR_SAMPLE = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS t FROM documents
),
big AS (
  SELECT doc_id, source, t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
tb AS (SELECT a, b, COUNT(*) AS ct FROM big WHERE source = 'src0' GROUP BY a, b),
rb AS (SELECT a, b, COUNT(*) AS cr FROM big GROUP BY a, b),
sc AS (
  SELECT d.doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(length(bin(COALESCE(tb.ct, 0) + 1))
                  - length(bin(rb.cr + 1))) AS BIGINT) AS dsir_score
  FROM big d
  LEFT JOIN tb ON d.a = tb.a AND d.b = tb.b
  JOIN rb ON d.a = rb.a AND d.b = rb.b
  GROUP BY d.doc_id
),
w AS (
  SELECT doc_id, n_bigrams, dsir_score,
         dsir_score - (SELECT MIN(dsir_score) FROM sc) + 1 AS dsir_weight
  FROM sc
),
c AS (SELECT *, SUM(dsir_weight) OVER (ORDER BY doc_id) AS cum FROM w),
p AS (SELECT CAST(MAX(cum) AS BIGINT) // 200 AS step FROM c)
SELECT doc_id, n_bigrams, dsir_score, CAST(dsir_weight AS BIGINT) AS dsir_weight
FROM c, p
WHERE (cum - dsir_weight) // step < LEAST(cum // step, 200)
"""


def q_nb_seed_classifier(spark, sf):
    """Seed quality classifier (operators/lm.py nb_classify — the
    CCNet/fastText/GPT-3 'train a small classifier on a trusted seed,
    score the crawl' step, with unigram Naive-Bayes log-odds as the
    linear model): positive seed = the src0 slice, negative seed =
    everything else; every document is then scored by the sum of
    whole-bit-quantized token log-likelihood ratios and flagged
    positive above 0. Integer-exact train AND inference, so the oracle
    replays the full model — token counts, the ilog2 quantization via
    length(bin(c+1)), the unseen-token zero vote, the decision — not
    just aggregate shapes."""
    from .operators.lm import nb_classify

    docs = _t(spark, sf, "documents")
    return nb_classify(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") != "src0"),
    ).select("doc_id", "n_tokens", "nb_score", "nb_positive")


SQL_NB_SEED_CLASSIFIER = r"""
WITH toks AS (
  SELECT doc_id, source, UNNEST(string_split_regex(trim(text), '\s+')) AS tok
  FROM documents
),
cp AS (SELECT tok, COUNT(*) AS c FROM toks WHERE source = 'src0' GROUP BY tok),
cn AS (SELECT tok, COUNT(*) AS c FROM toks WHERE source <> 'src0' GROUP BY tok),
w AS (
  SELECT COALESCE(cp.tok, cn.tok) AS tok,
         CAST(length(bin(COALESCE(cp.c, 0) + 1)) AS BIGINT)
         - CAST(length(bin(COALESCE(cn.c, 0) + 1)) AS BIGINT) AS delta
  FROM cp FULL JOIN cn ON cp.tok = cn.tok
)
SELECT t.doc_id, COUNT(*) AS n_tokens,
       CAST(SUM(COALESCE(w.delta, 0)) AS BIGINT) AS nb_score,
       CAST(SUM(COALESCE(w.delta, 0)) AS BIGINT) > 0 AS nb_positive
FROM toks t LEFT JOIN w ON t.tok = w.tok
GROUP BY t.doc_id
"""


def q_flac_meta(spark, sf):
    """N5 FLAC STREAMINFO demux under the oracle gate: a valid FLAC
    stream head is synthesized per document from (doc_id, text length)
    arithmetic — rate 44100/48000/96000 by id%3, channels tlen%8+1,
    bits 8/16/24 by tlen%3, total samples tlen*1000+id — and the
    oracle predicts every column (duration is one IEEE divide of exact
    integers) straight from the same arithmetic; any bit-packing slip
    in the 64-bit STREAMINFO field breaks the match."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.multimodal import flac_meta, mux_flac_header

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.length("text").alias("tlen"))
    )

    def synth(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        rates = (44100, 48000, 96000)
        bits = (8, 16, 24)

        def mk(doc_id: int, tlen: int) -> bytes:
            return mux_flac_header(
                sample_rate=rates[doc_id % 3],
                channels=tlen % 8 + 1,
                bits_per_sample=bits[tlen % 3],
                total_samples=tlen * 1000 + doc_id,
                block_size=4096,
            )

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(int(i), int(t))
                        for i, t in zip(pdf["doc_id"], pdf["tlen"])
                    ],
                }
            )

    flacs = d.mapInPandas(synth, schema="doc_id long, payload binary")
    return flac_meta(flacs, "payload", "doc_id")


SQL_FLAC_META = """
SELECT doc_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
            ELSE 96000 END AS BIGINT) AS sample_rate,
       CAST(length(text) % 8 + 1 AS INTEGER) AS channels,
       CAST(CASE length(text) % 3 WHEN 0 THEN 8 WHEN 1 THEN 16
            ELSE 24 END AS INTEGER) AS bits_per_sample,
       CAST(length(text) * 1000 + doc_id AS BIGINT) AS total_samples,
       CAST(length(text) * 1000 + doc_id AS DOUBLE)
         / (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
            ELSE 96000 END) AS duration_s,
       CAST(4096 AS INTEGER) AS min_block,
       CAST(4096 AS INTEGER) AS max_block
FROM documents WHERE text IS NOT NULL
"""


def q_audio_meta(spark, sf):
    """N5 MP3 frame-header demux under the oracle gate: a CBR MPEG-1
    Layer III stream is synthesized per document from (doc_id, text
    length) alone — frame count ``len%4+1``, sample rate 44100/48000 by
    doc_id parity, bitrate 128/160/192 by doc_id mod 3, an ID3v2 tag
    prepended on even ids and an ID3v1 trailer on ids divisible by 5 —
    then ``audio_meta`` walks the real frame headers distributed. The
    oracle predicts every output straight from the same arithmetic; any
    framing slip (wrong frame length, tag mis-skip) breaks the match."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.multimodal import audio_meta

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.length("text").alias("tlen"))
    )

    def synth(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        def mk(doc_id: int, tlen: int) -> bytes:
            nf = tlen % 4 + 1
            sr_idx = doc_id % 2
            sr = (44100, 48000)[sr_idx]
            br_idx = 9 + doc_id % 3
            br = (128, 160, 192)[doc_id % 3]
            h = (
                (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
                | (br_idx << 12) | (sr_idx << 10)
            )
            frame = h.to_bytes(4, "big") + bytes(144 * br * 1000 // sr - 4)
            payload = b""
            if doc_id % 2 == 0:
                payload += b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + bytes(10)
            payload += frame * nf
            if doc_id % 5 == 0:
                payload += b"TAG" + bytes(125)
            return payload

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        mk(int(i), int(t)) for i, t in zip(pdf["doc_id"], pdf["tlen"])
                    ],
                }
            )

    mp3s = d.mapInPandas(synth, schema="doc_id long, payload binary")
    return audio_meta(mp3s, "payload", "doc_id")


SQL_AUDIO_META = """
SELECT doc_id,
       CAST(length(text) % 4 + 1 AS INT) AS n_frames,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
       CAST(CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 160 ELSE 192 END AS DOUBLE)
         AS bitrate_kbps,
       CAST((length(text) % 4 + 1) * 1152 AS DOUBLE)
         / (CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END) AS duration_s
FROM documents WHERE text IS NOT NULL
"""


SQL_VIDEO_FRAMES = """
SELECT doc_id, f.frame_no, 8 AS width, 8 AS height,
       CAST(ascii(substr(text, 2 * f.frame_no + 1, 1))
            - ascii(substr(text, 2 * f.frame_no + 1, 1)) % 2 AS DOUBLE) AS mean_pixel
FROM documents CROSS JOIN (VALUES (CAST(0 AS INT)), (CAST(1 AS INT))) f(frame_no)
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 4
"""


def q_audio_decode(spark, sf):
    """N5 audio with REAL decode under the oracle gate: 8-bit PCM
    mono RIFF/WAVE payloads built from each ASCII document's first 24
    bytes (the header is a constant — 24 samples @ 8 kHz), decoded
    distributed by the pure-numpy WAV decoder. The oracle recomputes
    duration/rms/peak from the same characters; sample values are exact
    dyadics (k/2^7) so both engines land on identical doubles with no
    rounding anywhere."""
    import struct as _struct

    fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    header = (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + 24)
        + b"WAVE"
        + b"fmt "
        + _struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + _struct.pack("<I", 24)
    )
    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 24))
    )
    payload = F.concat(F.lit(header), F.substring("text", 1, 24).cast("binary"))
    wavs = d.select("doc_id", payload.alias("payload"))
    return audio_stats(wavs, "payload", "doc_id")


SQL_AUDIO_DECODE = """
SELECT doc_id, 8000 AS sample_rate, 1 AS n_channels, CAST(24 AS BIGINT) AS n_frames,
       CAST(24 AS DOUBLE) / 8000 AS duration_s,
       sqrt(list_sum(list_transform(range(1, 25),
              i -> CAST((ascii(substr(text, i, 1)) - 128)
                      * (ascii(substr(text, i, 1)) - 128) AS DOUBLE)))
            / (16384.0 * 24)) AS rms,
       CAST(list_max(list_transform(range(1, 25),
              i -> abs(ascii(substr(text, i, 1)) - 128))) AS DOUBLE) / 128 AS peak
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
"""


def q_kmeans_clusters(spark, sf):
    """Distributed Lloyd's k-means over the embedding corpus (k=8,
    3 iterations, deterministic smallest-id init, exact-decimal
    centroid accumulation → partition-invariant assignments). Not
    SQL-expressible (iterative); locked instead by
    tests/test_clustering.py's exact pure-Python-reference replay and
    partition-invariance tests."""
    from .operators.clustering import kmeans_lloyd

    assignments, _ = kmeans_lloyd(_t(spark, sf, "embeddings"), k=8, iters=3)
    return assignments


def q_kmeans_assign_init(spark, sf):
    """The k-means surface at an oracle-checkable configuration:
    0 iterations = pure nearest-centroid argmin over the deterministic
    init (the k smallest-id vectors), ties to the lowest cluster —
    exactly expressible in SQL, so the assignment kernel shared with
    the iterative entry gets a HARD driver row. Distances are the same
    sequential double fold in both engines."""
    from .operators.clustering import kmeans_lloyd

    assignments, _ = kmeans_lloyd(_t(spark, sf, "embeddings"), k=8, iters=0)
    return assignments


SQL_KMEANS_ASSIGN_INIT = """
WITH init AS (
  SELECT embedding AS c_vec,
         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
d AS (
  SELECT e.vec_id, i.cluster,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           j -> (CAST(e.embedding[j] AS DOUBLE) - CAST(i.c_vec[j] AS DOUBLE))
              * (CAST(e.embedding[j] AS DOUBLE) - CAST(i.c_vec[j] AS DOUBLE)))) AS d2
  FROM embeddings e CROSS JOIN init i
)
SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
  FROM d) t
WHERE rn = 1
"""


def q_semantic_dedup(spark, sf):
    """SemDeDup (cluster-then-cosine-prune, operators/similarity.py
    semantic_dedup) at the oracle-checkable configuration: 0-iteration
    deterministic centroids → the assignment, the intra-cluster cosine
    pair scoring, AND the greedy keep-lowest drop rule are all replayed
    in SQL — a fully hard row for the composed pipeline, not just a
    kernel twin. Threshold matches embedding_neardup (0.4) so both
    semantic tiers are comparable on the same corpus."""
    from .operators.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf, "embeddings"), k=8, iters=0, threshold=0.4
    )


SQL_SEMANTIC_DEDUP = """
WITH init AS (
  SELECT embedding AS c_vec,
         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
d AS (
  SELECT e.vec_id, e.embedding, i.cluster,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           j -> (CAST(e.embedding[j] AS DOUBLE) - CAST(i.c_vec[j] AS DOUBLE))
              * (CAST(e.embedding[j] AS DOUBLE) - CAST(i.c_vec[j] AS DOUBLE)))) AS d2
  FROM embeddings e CROSS JOIN init i
),
asg AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT vec_id, embedding, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM d) t
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id AS dropped FROM asg a JOIN asg b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND(
        list_sum(list_transform(range(1, len(a.embedding) + 1),
          j -> CAST(a.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
             j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))
         * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
             j -> CAST(b.embedding[j] AS DOUBLE) * CAST(b.embedding[j] AS DOUBLE))))),
        6) >= 0.4
)
SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
       (p.dropped IS NULL) AS keep
FROM asg a LEFT JOIN dropped p ON a.vec_id = p.dropped
"""


def q_semantic_dedup_scaled(spark, sf):
    """The PRODUCTION k-resolution path of SemDeDup under the hard
    oracle gate: ``target_cluster_size`` is chosen as ⌈n/8⌉ so the
    data-scaled branch (one count job → k = max(k, ⌈n/target⌉))
    provably EXECUTES while resolving to the same k=8 the fixed-k
    oracle replays — same clusters, same kept set, plus an ``engaged``
    literal the oracle pins to TRUE. The literal is computed from the
    operator's own ``info`` out-dict and demands the CEILING math
    specifically — ``k_from_target == 8`` (for any corpus of ≥57
    vectors, ⌈n/⌈n/8⌉⌉ is exactly 8, so a floor-division regression
    yielding 7 goes red), not merely ``k_effective == 8``, which
    ``max(8, ·)`` satisfies vacuously. The entry's count is passed
    back through ``n_rows=`` so the target branch reuses it instead
    of scanning the table twice. Complements the ``semantic_dedup``
    entry, which keeps the plain fixed-k configuration."""
    from .operators.similarity import semantic_dedup

    e = _t(spark, sf, "embeddings")
    n = e.count()
    info: dict = {}
    out = semantic_dedup(
        e,
        k=8,
        iters=0,
        threshold=0.4,
        target_cluster_size=-(-n // 8),
        info=info,
        n_rows=n,
    )
    engaged = (
        bool(info["target_engaged"])
        and info["k_from_target"] == 8
        and info["k_effective"] == 8
    )
    return out.withColumn("engaged", F.lit(engaged))


SQL_SEMANTIC_DEDUP_SCALED = f"""
SELECT vec_id, cluster, keep, TRUE AS engaged
FROM ({SQL_SEMANTIC_DEDUP}) base
"""


def q_cluster_balanced_sample(spark, sf):
    """Diversity sampling: md5-ordered top-N per k-means cluster —
    keeps long-tail content a uniform sample would drown. Iterative
    upstream → rows-only driver check; contract locked in
    tests/test_clustering.py."""
    from .operators.clustering import cluster_balanced_sample

    return cluster_balanced_sample(
        _t(spark, sf, "embeddings"), k=8, iters=3, per_cluster=25
    )


def q_cluster_sample_init(spark, sf):
    """Diversity-sampling twin under the HARD oracle gate: the same
    cluster_balanced_sample code path at the 0-iteration configuration
    — nearest-init-centroid assignment plus the md5-ordered top-N
    window are both engine-portable, so the whole sampler (assignment
    kernel, hash order, rank cutoff) is SQL-checkable."""
    from .operators.clustering import cluster_balanced_sample

    return cluster_balanced_sample(
        _t(spark, sf, "embeddings"), k=8, iters=0, per_cluster=25
    )


SQL_CLUSTER_SAMPLE_INIT = """
WITH init AS (
  SELECT embedding AS c_vec,
         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
d AS (
  SELECT e.vec_id, i.cluster,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
           j -> (CAST(e.embedding[j] AS DOUBLE) - CAST(i.c_vec[j] AS DOUBLE))
              * (CAST(e.embedding[j] AS DOUBLE) - CAST(i.c_vec[j] AS DOUBLE)))) AS d2
  FROM embeddings e CROSS JOIN init i
),
assigned AS (
  SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM d) t
  WHERE rn = 1
)
SELECT vec_id, cluster, CAST(sample_rank AS INT) AS sample_rank FROM (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (
           PARTITION BY cluster
           ORDER BY md5(CAST(vec_id AS VARCHAR) || '#csample'), vec_id
         ) AS sample_rank
  FROM assigned) s
WHERE sample_rank <= 25
"""


def q_webdataset_pipeline(spark, sf):
    """The multimodal ingest composed end-to-end, as a user would run
    it: documents become image+caption samples packed into WebDataset
    tar shards (a REAL 4×2 PNG per sample from the text's first 24
    ASCII bytes + the text as the .txt caption), shards are exploded
    distributed, PNG members decode through the pure-numpy decoder,
    caption members contribute byte lengths, and the two member
    streams rejoin per sample. The oracle recomputes everything —
    raster stats AND caption sizes — from the documents table, so the
    whole chain (tar mux/demux → format sniff → zlib inflate → filter
    inversion → stats → join) is pinned by one hard row."""
    from .sources.webdataset import mux_webdataset, webdataset_members
    from .operators.multimodal import encode_png

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 24))
        .select("doc_id", "text",
                (F.col("doc_id") / 50).cast("long").alias("__g"))
    )

    def pack(pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("doc_id")
        samples = []
        for r in pdf.itertuples():
            raster = _np.frombuffer(
                str(r.text)[:24].encode("ascii"), dtype=_np.uint8
            ).reshape(2, 4, 3)
            samples.append(
                (str(int(r.doc_id)),
                 {"png": encode_png(raster),
                  "txt": str(r.text).encode("utf-8")})
            )
        return _pd.DataFrame(
            {"path": [f"shard-{int(pdf['__g'].iloc[0]):05d}.tar"],
             "content": [mux_webdataset(samples)]}
        )

    shards = d.groupBy("__g").applyInPandas(
        pack, schema="path string, content binary"
    )
    members = webdataset_members(shards)
    pngs = members.filter(F.col("ext") == "png").select(
        F.col("key").cast("long").alias("doc_id"), "payload"
    )
    caps = members.filter(F.col("ext") == "txt").select(
        F.col("key").cast("long").alias("doc_id"),
        F.col("n_bytes").alias("caption_bytes"),
    )
    return image_stats(pngs, "payload", "doc_id").join(caps, "doc_id")


SQL_WEBDATASET_PIPELINE = """
SELECT doc_id, 4 AS width, 2 AS height, 3 AS channels,
       ROUND(list_sum(list_transform(range(1, 25),
                      i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE))) / 24, 6)
         AS mean_pixel,
       CAST(octet_length(encode(text)) AS BIGINT) AS caption_bytes
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
"""


def q_orc_roundtrip(spark, sf):
    """ORC source/sink breadth: orders written as ORC (zlib, Spark's
    native writer) and read back — values must survive the format
    round-trip exactly. The oracle reads the same rows from parquet,
    so any ORC type-mapping slip (decimal/timestamp/string) surfaces
    as a value mismatch."""
    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    with scratch_dir("q_orc_") as d:
        path = os.path.join(d, "orders_orc")
        o.write.mode("overwrite").orc(path)
        return materialize(spark.read.orc(path))


SQL_ORC_ROUNDTRIP = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders
"""


def q_csv_tolerant_read(spark, sf):
    """CSV source with declared schema + malformed-row quarantine
    (PERMISSIVE + columnNameOfCorruptRecord — the production posture
    for hand-me-down CSV): a CSV is written per customer row with
    every 7th line corrupted (a non-numeric account balance), read
    back with the tolerant schema; good rows keep exact values, bad
    rows land nulled with the raw line captured. The oracle predicts
    both populations from the customer table."""
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    with scratch_dir("q_csv_") as d:
        path = os.path.join(d, "customers_csv")
        (
            c.select(
                F.col("c_custkey").cast("string"),
                "c_name",
                F.when(
                    F.col("c_custkey") % 7 == 0, F.lit("NOT_A_NUMBER")
                ).otherwise(F.col("c_acctbal").cast("string")).alias("bal"),
            )
            .write.mode("overwrite")
            .option("header", "false")
            .csv(path)
        )
        return materialize(
            spark.read.schema(
                "c_custkey long, c_name string, c_acctbal double, _bad string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .csv(path)
            .select(
                "c_custkey", "c_name", "c_acctbal",
                F.col("_bad").isNotNull().alias("quarantined"),
            )
        )


SQL_CSV_TOLERANT_READ = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
       c_custkey % 7 = 0 AS quarantined
FROM customer
"""


def q_webdataset_members(spark, sf):
    """WebDataset tar-shard source (sources/webdataset.py) under the
    oracle gate: documents are packed 50-per-shard into deterministic
    tar archives (two members per sample: ``{doc_id}.txt`` = the text
    bytes, ``{doc_id}.len`` = the decimal n_chars), shards are exploded
    distributed by webdataset_members, and the oracle predicts every
    (key, ext, n_bytes) row straight from the documents table — any
    tar-walk slip (member sizing, extension split, dropped sample)
    breaks the match."""
    from .sources.webdataset import mux_webdataset, webdataset_members

    d = (
        _t(spark, sf, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text", "n_chars",
                (F.col("doc_id") / 50).cast("long").alias("__g"))
    )

    def pack(pdf):
        import pandas as _pd

        pdf = pdf.sort_values("doc_id")
        samples = [
            (str(int(r.doc_id)),
             {"txt": str(r.text).encode("utf-8"),
              "len": str(int(r.n_chars)).encode("ascii")})
            for r in pdf.itertuples()
        ]
        return _pd.DataFrame(
            {"path": [f"shard-{int(pdf['__g'].iloc[0]):05d}.tar"],
             "content": [mux_webdataset(samples)]}
        )

    shards = d.groupBy("__g").applyInPandas(
        pack, schema="path string, content binary"
    )
    return webdataset_members(shards).select("key", "ext", "n_bytes")


SQL_WEBDATASET_MEMBERS = """
SELECT CAST(doc_id AS VARCHAR) AS key, 'txt' AS ext,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents WHERE text IS NOT NULL
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'len',
       CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT)
FROM documents WHERE text IS NOT NULL
"""


def q_parquet_stats_events(spark, sf):
    """Distributed parquet FOOTER introspection (operators/lake.py
    parquet_footer_stats) under the oracle gate: events split into four
    deterministic ``event_id % 4`` bucket tables, footers read back on
    executors via pyarrow, per-bucket stats aggregated over files and
    row groups. The oracle predicts every number from the data itself
    (GROUP BY event_id % 4) — so the footer statistics parquet readers
    prune by are cross-validated against a second engine's full-scan
    ground truth."""
    from .operators.lake import parquet_footer_stats

    ev = _t(spark, sf, "events").select("event_id", "value")
    with scratch_dir("q_pqstats_") as d:
        parts = []
        for b in range(4):
            sub = os.path.join(d, f"b{b}")
            ev.filter(F.col("event_id") % 4 == b).write.parquet(sub)
            parts.append(
                parquet_footer_stats(spark, sub, ["event_id", "value"])
                .withColumn("bucket", F.lit(b))
            )
        import functools

        stats = functools.reduce(lambda a, c: a.unionByName(c), parts)
        return materialize(
            stats.groupBy("bucket", "column")
            .agg(
                F.sum("n_values").alias("n_values"),
                F.sum("null_count").alias("null_count"),
                F.min("min_val").alias("min_val"),
                F.max("max_val").alias("max_val"),
            )
        )


SQL_PARQUET_STATS_EVENTS = """
SELECT CAST(event_id % 4 AS INTEGER) AS bucket, 'event_id' AS column,
       COUNT(event_id) AS n_values, CAST(0 AS BIGINT) AS null_count,
       CAST(MIN(event_id) AS DOUBLE) AS min_val,
       CAST(MAX(event_id) AS DOUBLE) AS max_val
FROM events GROUP BY event_id % 4
UNION ALL
SELECT CAST(event_id % 4 AS INTEGER), 'value',
       COUNT(value), CAST(COUNT(*) - COUNT(value) AS BIGINT),
       CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
FROM events GROUP BY event_id % 4
"""


def q_boilerplate_removal(spark, sf):
    """CCNet-style boilerplate filter (operators/dedup.py
    boilerplate_removal): 8-word passages occurring in more than 3
    distinct documents are removed from every document. The
    frequency-threshold complement of passage_dedup's keep-first rule,
    under the same window arithmetic oracle."""
    from .operators.dedup import boilerplate_removal

    return boilerplate_removal(
        _t(spark, sf, "documents"), "text", "doc_id", k=8, max_df=3
    )


SQL_BOILERPLATE_REMOVAL = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS wd,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
), p AS (
  SELECT doc_id, (i - 1) // 8 AS pidx, string_agg(wd, ' ' ORDER BY i) AS passage
  FROM w GROUP BY doc_id, (i - 1) // 8
), df AS (
  SELECT md5(passage) AS h, COUNT(DISTINCT doc_id) AS ndocs
  FROM p GROUP BY md5(passage)
), f AS (
  SELECT p.doc_id, p.pidx, p.passage, df.ndocs > 3 AS boiler
  FROM p JOIN df ON md5(p.passage) = df.h
)
SELECT doc_id,
       COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       COALESCE(string_agg(CASE WHEN NOT boiler THEN passage END, ' '
                           ORDER BY pidx), '') AS clean_text
FROM f GROUP BY doc_id
"""


def q_zorder_key_events(spark, sf):
    """Z-order layout key (operators/zorder.py) under the HARD oracle
    gate: the Morton key over (user_id, value) — min-max normalization
    to a 16-bit grid in fixed-order IEEE double arithmetic, then bit
    interleave — replayed bit-for-bit by the generated SQL. The key is
    what zorder_layout range-partitions on to give every indexed
    dimension ~sqrt(n) file-skipping locality."""
    from .operators.zorder import zorder_key

    e = _t(spark, sf, "events").select("event_id", "user_id", "value")
    return zorder_key(e, ["user_id", "value"], bits=16).select(
        "event_id", "zkey"
    )


def _sql_zorder_key_events() -> str:
    from .operators.zorder import zorder_oracle_sql

    return zorder_oracle_sql(
        "(SELECT event_id, user_id, value FROM events)",
        ["user_id", "value"],
        bits=16,
        id_cols="event_id",
    )


def q_hilbert_key_events(spark, sf):
    """Hilbert-curve layout key (operators/hilbert.py) under the HARD
    oracle gate: the 2-D Hilbert index over (user_id, value) — the same
    16-bit min-max grid as zorder_key_events, then the classic xy2d
    transform unrolled 16 times in portable integer arithmetic —
    replayed bit-for-bit by the generated chained-CTE SQL. The key
    hilbert_layout range-partitions on: contiguous curve spans are
    spatial tiles, so file min/max envelopes stay tight on BOTH
    dimensions (no Morton diagonal jumps)."""
    from .operators.hilbert import hilbert_key

    e = _t(spark, sf, "events").select("event_id", "user_id", "value")
    return hilbert_key(e, ["user_id", "value"], bits=16).select(
        "event_id", "hkey"
    )


def _sql_hilbert_key_events() -> str:
    from .operators.hilbert import hilbert_oracle_sql

    return hilbert_oracle_sql(
        "(SELECT event_id, user_id, value FROM events)",
        ["user_id", "value"],
        id_cols="event_id",
        bits=16,
    )


def q_passage_dedup(spark, sf):
    """Corpus-wide duplicated-passage removal (operators/dedup.py
    passage_dedup): 8-word passages, global keep-first by (doc,
    position), documents re-emitted with surviving passages. The
    passage-level form of Lee et al.'s ExactSubstr dedup."""
    return passage_dedup(_t(spark, sf, "documents"), "text", "doc_id", k=8)


SQL_PASSAGE_DEDUP = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS wd,
         generate_subscripts(string_split(text, ' '), 1) AS i
  FROM documents
), p AS (
  SELECT doc_id, (i - 1) // 8 AS pidx, string_agg(wd, ' ' ORDER BY i) AS passage
  FROM w GROUP BY doc_id, (i - 1) // 8
), r AS (
  SELECT doc_id, pidx, passage,
         ROW_NUMBER() OVER (PARTITION BY md5(passage) ORDER BY doc_id, pidx) AS rn
  FROM p
)
SELECT doc_id,
       COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       COALESCE(string_agg(CASE WHEN rn = 1 THEN passage END, ' ' ORDER BY pidx),
                '') AS clean_text
FROM r GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# sampling (operators/sampling.py)
# ---------------------------------------------------------------------------


def q_stable_row_ids(spark, sf):
    """Dense 0-based ids by global o_orderkey order via the two-pass
    distributed prefix sum (operators/sampling.py assign_stable_ids) —
    the scale-safe form of ROW_NUMBER() OVER (ORDER BY key), which the
    oracle replays directly."""
    from .operators.sampling import assign_stable_ids

    o = _t(spark, sf, "orders").select("o_orderkey")
    return assign_stable_ids(o, "o_orderkey", num_partitions=8)


SQL_STABLE_ROW_IDS = """
SELECT o_orderkey,
       ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id
FROM orders
"""


def q_pps_sample_orders(spark, sf):
    """Deterministic systematic PPS sample (~500 orders, inclusion
    probability ∝ floor(o_totalprice)+1) via pure integer arithmetic
    over the distributed prefix sum — no RNG, so the oracle replays the
    identical sample with a window sum."""
    from .operators.sampling import pps_systematic_sample

    o = (
        _t(spark, sf, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            (F.floor("o_totalprice").cast("long") + 1).alias("w"),
        )
    )
    return pps_systematic_sample(o, "o_orderkey", "w", 500, num_partitions=8).select(
        "o_orderkey", "o_totalprice"
    )


SQL_PPS_SAMPLE_ORDERS = """
WITH w AS (
  SELECT o_orderkey, o_totalprice,
         CAST(FLOOR(o_totalprice) AS BIGINT) + 1 AS w
  FROM orders
), c AS (
  SELECT *, SUM(w) OVER (ORDER BY o_orderkey) AS cum FROM w
), p AS (
  SELECT CAST(MAX(cum) AS BIGINT) // 500 AS step FROM c
)
SELECT o_orderkey, o_totalprice
FROM c, p
WHERE (cum - w) // step < LEAST(cum // step, 500)
"""


def q_weighted_sample_orders(spark, sf):
    """Efraimidis–Spirakis weighted sample without replacement (k=300,
    weight = floor(o_totalprice)+1), md5-derived uniforms so both
    engines draw the SAME sample; plan is TakeOrderedAndProject (per-
    partition heaps), not a global sort."""
    from .operators.sampling import weighted_sample_aes

    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.floor("o_totalprice").cast("long") + 1).alias("w"),
    )
    return weighted_sample_aes(o, "o_orderkey", "w", 300).select(
        "o_orderkey", "o_totalprice"
    )


SQL_WEIGHTED_SAMPLE_ORDERS = """
WITH s AS (
  SELECT o_orderkey, o_totalprice,
         -ln((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#aes'), 1, 13))
                   AS BIGINT) + 1) / 4503599627370496.0)
           / (CAST(FLOOR(o_totalprice) AS BIGINT) + 1) AS sc
  FROM orders
)
SELECT o_orderkey, o_totalprice FROM s ORDER BY sc, o_orderkey LIMIT 300
"""


# ---------------------------------------------------------------------------
# link analysis (operators/graph.py)
# ---------------------------------------------------------------------------


def q_pagerank_2iter(spark, sf):
    """Two fixed-point PageRank iterations over the customer↔supplier
    trade graph (distinct pairs from orders ⋈ lineitem, both
    directions). Integer arithmetic end-to-end, so the oracle unrolls
    the identical recurrence in SQL and the ranks match bit-for-bit."""
    from .operators.graph import pagerank_fixed

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct on the INTEGER key pair BEFORE building node strings:
    # the join emits one row per lineitem (E×), and deduplicating 2×16
    # bytes of ints shuffles half the bytes of pre-concatenated strings
    # — the dominant stage at 100× (SCALING.md round 12); the node-name
    # concat then runs over the ~E distinct pairs only
    pairs = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").union(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    return pagerank_fixed(edges, iters=2)


SQL_PAGERANK_2ITER = """
WITH pairs AS (
  SELECT DISTINCT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
                  'S' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), e AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION
  SELECT s AS src, c AS dst FROM pairs
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), params AS (
  SELECT COUNT(*) AS n,
         1000000000000000 // COUNT(*) AS r0,
         (15 * (1000000000000000 // COUNT(*))) // 100 AS jump
  FROM nodes
), r1 AS (
  SELECT nd.node,
         CAST(p.jump + (85 * COALESCE(inf.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes nd
  CROSS JOIN params p
  LEFT JOIN (
    SELECT e.dst AS node, SUM(p2.r0 // d.outdeg) AS s
    FROM e JOIN deg d ON d.src = e.src CROSS JOIN params p2
    GROUP BY e.dst
  ) inf ON inf.node = nd.node
), r2 AS (
  SELECT nd.node,
         CAST(p.jump + (85 * COALESCE(inf.s, 0)) // 100 AS BIGINT) AS rank_fp
  FROM nodes nd
  CROSS JOIN params p
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r1.rank_fp // d.outdeg) AS s
    FROM e JOIN deg d ON d.src = e.src JOIN r1 ON r1.node = e.src
    GROUP BY e.dst
  ) inf ON inf.node = nd.node
)
SELECT node, rank_fp FROM r2
"""


# ---------------------------------------------------------------------------
# profiling / DQ screening (operators/profile.py)
# ---------------------------------------------------------------------------


def q_column_profile_events(spark, sf):
    """First-look dataset profile of the events table — null count,
    exact distinct count, min/max for every column, computed in ONE
    aggregation pass (operators/profile.py profile_columns); the oracle
    recomputes each column's row via UNION ALL."""
    from .operators.profile import profile_columns

    return profile_columns(_t(spark, sf, "events"))


def _sql_profile_events() -> str:
    def num(c, expr):
        return f"""
SELECT '{c}' AS col_name,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({expr}) AS DOUBLE) AS min_num,
       CAST(MAX({expr}) AS DOUBLE) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM events"""

    def st(c):
        return f"""
SELECT '{c}' AS col_name,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       MIN({c}) AS min_str, MAX({c}) AS max_str
FROM events"""

    parts = [
        num("event_id", "event_id"),
        num("ts", "epoch_us(ts)"),
        num("user_id", "user_id"),
        st("event_type"),
        num("value", "value"),
        st("props"),
    ]
    return "\nUNION ALL\n".join(parts)


def q_outlier_events(spark, sf):
    """3σ outlier screen on event value per event type (the long-tail
    distribution in the corpus — ~190 hits at sf0.01), decided in exact
    integer cents arithmetic ((n·x−S)² > 9(n·Q−S²)) — bit-identical
    verdicts on any partitioning and in the DuckDB replay; group stats
    broadcast, no window over the fact table."""
    from .operators.profile import integer_sigma_outliers

    e = _t(spark, sf, "events").withColumn(
        "cents", F.floor(F.col("value") * 100 + 0.5).cast("long")
    )
    return integer_sigma_outliers(e, ["event_type"], "cents", k=3).select(
        "event_id", "event_type", "value"
    )


SQL_OUTLIER_EVENTS = """
WITH c AS (
  SELECT event_id, event_type, value,
         CAST(FLOOR(value * 100 + 0.5) AS HUGEINT) AS x
  FROM events
), s AS (
  SELECT event_type,
         CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(x * x) AS q
  FROM c GROUP BY event_type
)
SELECT event_id, event_type, value
FROM c JOIN s USING (event_type)
WHERE (n * x - sx) * (n * x - sx) > 9 * (n * q - sx * sx)
"""


# ---------------------------------------------------------------------------
# versioned tables (sinks/versioned.py)
# ---------------------------------------------------------------------------


def q_versioned_time_travel(spark, sf):
    """Snapshot isolation + time travel through the real manifest path:
    v1 = orders as-is, v2 = overwrite with even-keyed prices doubled,
    v3 = append of a duplicate batch (keys ≡0 mod 10). The query reads
    v1 AND v3 side by side — v1 must be bit-identical to the original
    table even though two commits happened after it, and v3 must equal
    v2's content plus the increment. The oracle states both snapshots
    directly from the source table."""
    from .sinks.versioned import read_version, write_version

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o, t)
        v2 = o.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 2 == 0,
                (_dec("o_totalprice") * 2).cast("double"),
            ).otherwise(F.col("o_totalprice")),
        )
        write_version(spark, v2, t)
        inc = o.filter(F.col("o_orderkey") % 10 == 0)
        write_version(spark, inc, t, mode="append")

        def agg(df, tag):
            return df.groupBy("o_orderstatus").agg(
                F.lit(tag).alias("snapshot"),
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )

        return materialize(
            agg(read_version(spark, t, version=1), "v1")
            .unionByName(agg(read_version(spark, t, version=3), "v3"))
            .select("snapshot", "o_orderstatus", "n", "cents")
        )


SQL_VERSIONED_TIME_TRAVEL = """
WITH v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 2 = 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders
), v3 AS (
  SELECT * FROM v2
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 10 = 0
)
SELECT 'v1' AS snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 'v3' AS snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM v3 GROUP BY o_orderstatus
"""


def _doc_png_frames(spark, sf, pre_filter=None):
    """Shared fixture pipeline for the image-hash entries: each ASCII
    document\'s first 24 bytes become a REAL 4×2 RGB PNG (same
    generator as q_png_decode, encoded distributed). ``pre_filter``
    (a Column) is applied ON THE SCAN, before the encode — mapInPandas
    is opaque to Catalyst, so a filter placed after it cannot push
    down and every document would pay the encode."""
    from collections.abc import Iterator as _Iter

    import pandas as _pd

    from .operators.multimodal import encode_png

    d = _t(spark, sf, "documents").filter(
        F.col("text").rlike("^[ -~]+$") & (F.length("text") >= 24)
    )
    if pre_filter is not None:
        d = d.filter(pre_filter)
    d = d.select("doc_id", F.substring("text", 1, 24).cast("binary").alias("raster"))

    def enc(batches: _Iter[_pd.DataFrame]) -> _Iter[_pd.DataFrame]:
        import numpy as _np

        for pdf in batches:
            payloads = [
                encode_png(
                    _np.frombuffer(bytes(r), dtype=_np.uint8).reshape(2, 4, 3)
                )
                for r in pdf["raster"]
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return d.mapInPandas(enc, schema="doc_id long, payload binary")


def q_image_dhash(spark, sf):
    """Perceptual dHash over REAL decoded PNGs, under a closed-form
    HARD oracle. The 4×2 source raster makes the 8×9 nearest-neighbor
    resample collapse to index patterns the oracle can replay exactly:
    rows 0-3 sample source row 0, rows 4-7 row 1; of the 8 per-row
    comparisons only columns (2,4,6) compare distinct source pixels
    (the rest compare a pixel with itself → bit 0). So
    dhash = 16843009·(m0 + m1·2³²) with
    m_y = 4·[g_y0<g_y1] + 16·[g_y1<g_y2] + 64·[g_y2<g_y3] over integer
    luma (299R+587G+114B)//1000 — every decode, luma, resample and bit
    placement must be exact for the hashes to match."""
    from .operators.multimodal import dhash_images

    pngs = _doc_png_frames(spark, sf)
    return dhash_images(pngs, "payload", "doc_id").select("doc_id", "dhash")


def _sql_dhash_core() -> str:
    """Shared oracle CTE: per-doc integer-luma values and the dhash
    closed form (see q_image_dhash)."""
    def g(y, x):
        base = y * 12 + x * 3
        return (
            f"(299*ascii(substr(text,{base + 1},1))"
            f" + 587*ascii(substr(text,{base + 2},1))"
            f" + 114*ascii(substr(text,{base + 3},1))) // 1000"
        )

    def m(y):
        return (
            f"(CASE WHEN {g(y,0)} < {g(y,1)} THEN 4 ELSE 0 END"
            f" + CASE WHEN {g(y,1)} < {g(y,2)} THEN 16 ELSE 0 END"
            f" + CASE WHEN {g(y,2)} < {g(y,3)} THEN 64 ELSE 0 END)"
        )

    return f"""
SELECT doc_id,
       CAST(16843009 * ({m(0)} + {m(1)} * 4294967296) AS BIGINT) AS dhash
FROM documents
WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
"""


SQL_IMAGE_DHASH = _sql_dhash_core()


def q_image_dhash_pairs(spark, sf):
    """Image near-dup pairs: dHash signatures through the SAME banded
    Hamming machinery as text SimHash (hamming_bits_pairs — pigeonhole-
    complete for ≤3 differing bits over 4 bands), restricted to a FIXED
    doc window (doc_id ≡ 0 mod 20, doc_id < 20000) so the all-pairs
    oracle stays tractable AND the pair volume stays bounded at every
    SF: the 4×2 fixture rasters span only 6 effective hash bits, so an
    unbounded corpus collides quadratically — a fixture artifact (real
    images fill 64 bits), not an operator property; the cap is this
    documented line, not a silent default. The
    banded plan must find EXACTLY the pairs the oracle\'s exhaustive
    bit_count(xor) scan finds — no recall loss, no phantom pairs."""
    from .operators.multimodal import dhash_images
    from .operators.neardup import hamming_bits_pairs

    pngs = _doc_png_frames(
        spark,
        sf,
        pre_filter=(F.col("doc_id") % 20 == 0) & (F.col("doc_id") < 20000),
    )
    # unpinned: with ``bits`` given, hamming_bits_pairs reads the
    # signatures once, inside its own materialized collapse
    sig = dhash_images(pngs, "payload", "doc_id")
    return hamming_bits_pairs(
        sig, "doc_id", "dhash_bits", bands=4, max_hamming=3, bits=64
    )


SQL_IMAGE_DHASH_PAIRS = f"""
WITH h AS (
  SELECT * FROM ({_sql_dhash_core()}) WHERE doc_id % 20 = 0 AND doc_id < 20000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
"""


def q_image_neardup_keep(spark, sf):
    """Image dedup carried to its END PRODUCT — what text dedup already
    had (near_dedup_keep/dedup_clusters) and image dedup stopped short
    of at the pair list: dHash signatures → banded Hamming pairs
    (pigeonhole-complete for ≤3 bits over 4 bands) → connected
    components → canonical election (min doc_id per component keeps;
    every other member drops; pairless images are their own keepers).
    Same fixed doc window as image_dhash_pairs so the oracle's
    exhaustive pair scan + recursive-CTE closure stays tractable.
    Output: (doc_id, cluster, is_keeper) over the image universe."""
    from .operators.dedup import connected_components
    from .operators.multimodal import dhash_images
    from .operators.neardup import hamming_bits_pairs

    pngs = _doc_png_frames(
        spark,
        sf,
        pre_filter=(F.col("doc_id") % 20 == 0) & (F.col("doc_id") < 20000),
    )
    # pinned: sig feeds both the pair search and the labeled universe
    sig = materialize(dhash_images(pngs, "payload", "doc_id"))
    pairs = hamming_bits_pairs(
        sig, "doc_id", "dhash_bits", bands=4, max_hamming=3, bits=64
    )
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    labeled = sig.select("doc_id").join(comp, "doc_id", "left")
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    return labeled.select(
        "doc_id",
        cluster.alias("cluster"),
        (cluster == F.col("doc_id")).alias("is_keeper"),
    )


SQL_IMAGE_NEARDUP_KEEP = f"""
WITH RECURSIVE h AS (
  SELECT * FROM ({_sql_dhash_core()}) WHERE doc_id % 20 = 0 AND doc_id < 20000
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
),
reach(n, l) AS (
  SELECT d, d FROM (SELECT id_a AS d FROM pairs UNION SELECT id_b FROM pairs) t(d)
  UNION
  SELECT CASE WHEN r.n = p.id_a THEN p.id_b ELSE p.id_a END, r.l
  FROM reach r JOIN pairs p ON r.n = p.id_a OR r.n = p.id_b
),
lab AS (SELECT n AS doc_id, MIN(l) AS cluster FROM reach GROUP BY n)
SELECT h.doc_id,
       COALESCE(lab.cluster, h.doc_id) AS cluster,
       COALESCE(lab.cluster, h.doc_id) = h.doc_id AS is_keeper
FROM h LEFT JOIN lab ON lab.doc_id = h.doc_id
"""


def q_image_corpus_manifest(spark, sf):
    """The IMAGE-side curation funnel end product — corpus_manifest's
    analog over the image universe, composed from tiers that are each
    individually hard-oracled: an image survives into the training
    manifest iff it (1) decodes CLEAN (a deterministic third of the
    window — doc_id ≡ 0 mod 60 — has its final payload byte truncated,
    a torn deflate stream the quarantine contract must null out, not
    crash on), (2) is the dHash KEEPER of its near-dup component
    (banded Hamming pairs → connected components → min-id election;
    quarantined images have null signatures, so they also vanish from
    pair generation and a surviving member inherits the election,
    which the oracle replays by excluding them from its pair scan —
    the cut is at half the payload so the tear lands inside the IDAT
    deflate stream, not in trailing CRC bytes a decoder may ignore),
    (3) passes the DIMENSION gates (4×2 fixture bounds), and (4)
    passes a brightness gate (60 ≤ mean_pixel ≤ 110 — the fixture
    analog of an exposure screen). Locks the composition: quarantine
    null-handling through joins, election shift when a would-be keeper
    is quarantined, and the conjunctive keep rule."""
    from .operators.dedup import connected_components
    from .operators.multimodal import dhash_images, image_stats
    from .operators.neardup import hamming_bits_pairs

    pngs = _doc_png_frames(
        spark,
        sf,
        pre_filter=(F.col("doc_id") % 20 == 0) & (F.col("doc_id") < 20000),
    )
    corrupt = F.col("doc_id") % 60 == 0
    imgs = materialize(
        pngs.select(
            "doc_id",
            F.when(
                corrupt,
                F.expr("substring(payload, 1, CAST(length(payload) / 2 AS INT))"),
            )
            .otherwise(F.col("payload"))
            .alias("payload"),
        )
    )
    stats = image_stats(imgs, "payload", "doc_id")
    sig = materialize(dhash_images(imgs, "payload", "doc_id"))
    pairs = hamming_bits_pairs(
        sig, "doc_id", "dhash_bits", bands=4, max_hamming=3, bits=64
    )
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    labeled = (
        sig.filter(F.col("dhash_bits").isNotNull())
        .select("doc_id")
        .join(comp, "doc_id", "left")
    )
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    keepers = labeled.select(
        "doc_id",
        cluster.alias("cluster"),
        (cluster == F.col("doc_id")).alias("is_keeper"),
    )
    return (
        keepers.join(stats, "doc_id")
        .filter(
            F.col("is_keeper")
            & F.col("width").isNotNull()
            & (F.col("width") == 4)
            & (F.col("height") == 2)
            & (F.col("mean_pixel") >= 60.0)
            & (F.col("mean_pixel") <= 110.0)
        )
        .select("doc_id", "cluster", "mean_pixel")
    )


SQL_IMAGE_CORPUS_MANIFEST = f"""
WITH RECURSIVE h AS (
  SELECT * FROM ({_sql_dhash_core()})
  WHERE doc_id % 20 = 0 AND doc_id < 20000 AND doc_id % 60 <> 0
),
px AS (
  SELECT doc_id,
         ROUND(list_sum(list_transform(range(1, 25),
                        i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE))) / 24, 6)
           AS mean_pixel
  FROM documents
  WHERE regexp_matches(text, '^[ -~]+$') AND length(text) >= 24
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
),
reach(n, l) AS (
  SELECT d, d FROM (SELECT id_a AS d FROM pairs UNION SELECT id_b FROM pairs) t(d)
  UNION
  SELECT CASE WHEN r.n = p.id_a THEN p.id_b ELSE p.id_a END, r.l
  FROM reach r JOIN pairs p ON r.n = p.id_a OR r.n = p.id_b
),
lab AS (SELECT n AS doc_id, MIN(l) AS cluster FROM reach GROUP BY n)
SELECT h.doc_id,
       COALESCE(lab.cluster, h.doc_id) AS cluster,
       px.mean_pixel
FROM h
LEFT JOIN lab ON lab.doc_id = h.doc_id
JOIN px ON px.doc_id = h.doc_id
WHERE COALESCE(lab.cluster, h.doc_id) = h.doc_id
  AND px.mean_pixel BETWEEN 60 AND 110
"""


def q_bloom_file_lookup(spark, sf):
    """Point lookups through the per-file Bloom index
    (operators/lake.py): events land range-clustered by user_id into 16
    files, then a deterministic event_id key set (≡0 mod 997 — a column
    the layout is NOT clustered by, where min-max envelopes prune
    nothing) is answered by index-qualified files only. Bloom filters
    have no false negatives and the final isin filter kills false
    positives, so the result is bit-identical to the oracle\'s full
    scan; the index only changes which files are read."""
    from .operators.lake import bloom_file_lookup, build_file_bloom_index

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "value")
    with scratch_dir("q_bloom_idx_") as d:
        lay = os.path.join(d, "events_lay")
        e.repartitionByRange(16, "user_id").write.parquet(lay)
        files = sorted(
            os.path.join(lay, f) for f in os.listdir(lay) if f.endswith(".parquet")
        )
        keys = [
            r["event_id"]
            for r in e.filter(F.col("event_id") % 997 == 0)
            .select("event_id")
            .collect()
        ]
        if not files or not keys:
            return e.filter(F.lit(False))
        idx = build_file_bloom_index(spark, files, "event_id")
        return materialize(bloom_file_lookup(spark, files, idx, "event_id", keys))


SQL_BLOOM_FILE_LOOKUP = """
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id % 997 = 0
"""


def q_versioned_merge_delete(spark, sf):
    """Copy-on-write MERGE + DELETE on a versioned table through the
    real manifest path: v1 = orders range-clustered into 8 files; v2 =
    merge of a CDC-style increment (keys ≡0 mod 5 with price doubled =
    updates, keys −k−1 for k ≡0 mod 13 = inserts) rewriting ONLY the
    files holding matched keys; v3 = delete of finished orders with
    key ≡0 mod 3. The query reads v2 AND v3 — v2 checks merge
    semantics (incoming wins per key, inserts land, untouched rows
    carried bit-identically through reused files), v3 checks SQL
    DELETE semantics on top. The oracle replays both table states from
    the source rows."""
    from .sinks.versioned import (
        delete_version,
        merge_version,
        read_version,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_cow_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o.repartitionByRange(8, "o_orderkey"), t)
        upd = o.filter(F.col("o_orderkey") % 5 == 0).withColumn(
            "o_totalprice", (_dec("o_totalprice") * 2).cast("double")
        )
        # -k-1, not -k: the corpus contains o_orderkey = 0, whose
        # negation would collide with the updated key 0 (MERGE keeps one
        # row per key; the oracle's UNION ALL would keep both).
        ins = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", -F.col("o_orderkey") - 1
        )
        merge_version(spark, upd.unionByName(ins), t, keys=["o_orderkey"])
        delete_version(
            spark,
            t,
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0),
        )

        def agg(df, tag):
            return df.groupBy("o_orderstatus").agg(
                F.lit(tag).alias("snapshot"),
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )

        return materialize(
            agg(read_version(spark, t, version=2), "v2")
            .unionByName(agg(read_version(spark, t, version=3), "v3"))
            .select("snapshot", "o_orderstatus", "n", "key_sum", "cents")
        )


SQL_VERSIONED_MERGE_DELETE = """
WITH inc AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
), v2 AS (
  SELECT * FROM inc
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM inc)
), v3 AS (
  SELECT * FROM v2
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
)
SELECT 'v2' AS snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM v2 GROUP BY o_orderstatus
UNION ALL
SELECT 'v3' AS snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
FROM v3 GROUP BY o_orderstatus
"""


def q_versioned_mor_delete(spark, sf):
    """Merge-on-read DELETE (deletion vectors) through the real
    manifest path: v1 = orders range-clustered into 8 files; v2 = MOR
    delete of finished orders with key ≡0 mod 3; v3 = MOR delete of
    key ≡0 mod 7 (overlapping v2's set — live-row accounting must not
    double-count); v4 = compaction (overwrite of the read-back
    snapshot), which must FOLD the DVs away. The query reads v2, v3
    AND v4; the oracle replays all three states from the source rows —
    v4's rows equal v3's, which is exactly the read-equality-with-COW
    contract (a COW delete's final state IS the predicate-filtered
    source).

    Metadata literals (oracle-pinned TRUE): ``mor_zero_rewrite`` (both
    MOR commits rewrote ZERO data files, carried all 8, and each staged
    a DV sidecar — the O(deleted rows) cost profile, vs the COW twin
    ``versioned_merge_delete`` whose delete rewrites files) and
    ``dv_folded`` (v3's manifest records DV sidecars, v4's records
    none). The aggregates are computed off the DV-applied reads, so an
    anti-join that dropped a live row or resurrected a deleted one also
    fails the value hash."""
    from .sinks.versioned import (
        delete_version,
        load_manifest,
        read_version,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_mor_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o.repartitionByRange(8, "o_orderkey"), t)
        r2 = delete_version(
            spark,
            t,
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0),
            mode="mor",
        )
        r3 = delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")
        mor_zero_rewrite = (
            r2["files_rewritten"] == 0
            and r3["files_rewritten"] == 0
            and r2["files_carried"] == 8
            and r3["files_carried"] == 8
            and r2["dv_files_added"] >= 1
            and r3["dv_files_added"] >= 1
        )
        write_version(spark, read_version(spark, t, version=3), t, mode="overwrite")
        dv_folded = bool(load_manifest(t, 3).get("dv_files")) and not load_manifest(
            t, 4
        ).get("dv_files")

        def agg(df, tag):
            return df.groupBy("o_orderstatus").agg(
                F.lit(tag).alias("snapshot"),
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )

        return materialize(
            agg(read_version(spark, t, version=2), "v2")
            .unionByName(agg(read_version(spark, t, version=3), "v3"))
            .unionByName(agg(read_version(spark, t, version=4), "v4"))
            .select("snapshot", "o_orderstatus", "n", "key_sum", "cents")
            .withColumn("mor_zero_rewrite", F.lit(mor_zero_rewrite))
            .withColumn("dv_folded", F.lit(dv_folded))
        )


SQL_VERSIONED_MOR_DELETE = """
WITH v2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
), v3 AS (
  SELECT * FROM v2 WHERE NOT (o_orderkey % 7 = 0)
), states AS (
  SELECT 'v2' AS snapshot, * FROM v2
  UNION ALL SELECT 'v3' AS snapshot, * FROM v3
  UNION ALL SELECT 'v4' AS snapshot, * FROM v3
)
SELECT snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS mor_zero_rewrite, TRUE AS dv_folded
FROM states GROUP BY snapshot, o_orderstatus
"""


def q_versioned_changes(spark, sf):
    """Manifest-driven change data feed (sinks/versioned.py
    read_changes) across one of each commit kind: v1 = orders
    range-clustered into 8 files; v2 = APPEND of an increment (keys
    −k−1 for k ≡0 mod 13 — negative, so later predicates never touch
    them); v3 = COW delete of early finished orders (key < 1000 AND
    status 'F' — range-scoped, so the clustering bounds which files
    rewrite); v4 = MOR delete of key ∈ [200, 500) ≡0 mod 7 (DV
    sidecars; the range is non-empty at EVERY corpus scale, and its
    overlap with v3's set exercises live-only semantics — the oracle's
    OR counts each row once, exactly like MOR deleting only live
    rows). ``read_changes(1, 4)`` must yield
    exactly: every increment row as an insert, every row the two
    deletes removed as a delete — the append's files contribute their
    rows, COW-carried rows CANCEL in the multiset diff, and the
    DV-diff yields the MOR rows. The oracle replays the change set
    from the source rows.

    ``scoped`` literal (oracle-pinned TRUE): the feed scanned FEWER
    before-side files than v1's manifest lists — carried files with
    unchanged DVs are never opened, the O(changed files) contract
    that makes an incremental consumer cheaper than a snapshot diff
    (contrast ``snapshot_diff_orders``, which is O(table) by
    construction)."""
    from .sinks.versioned import delete_version, read_changes, write_version

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_cdf_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o.repartitionByRange(8, "o_orderkey"), t)
        inc = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", -F.col("o_orderkey") - 1
        )
        write_version(spark, inc.coalesce(1), t, mode="append")
        delete_version(
            spark,
            t,
            (F.col("o_orderkey") >= 0)
            & (F.col("o_orderkey") < 1000)
            & (F.col("o_orderstatus") == "F"),
            mode="cow",
        )
        delete_version(
            spark,
            t,
            (F.col("o_orderkey") >= 200)
            & (F.col("o_orderkey") < 500)
            & (F.col("o_orderkey") % 7 == 0),
            mode="mor",
        )
        info: dict = {}
        ch = read_changes(spark, t, 1, 4, info=info)
        return materialize(
            ch.groupBy("_change_type", "o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )
            .select(
                F.col("_change_type").alias("change_type"),
                "o_orderstatus",
                "n",
                "key_sum",
                "cents",
            )
            .withColumn(
                "scoped",
                F.lit(info["files_scanned_before"] < info["files_before"]),
            )
        )


SQL_VERSIONED_CHANGES = """
WITH ins AS (
  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
), del AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE (o_orderkey >= 0 AND o_orderkey < 1000 AND o_orderstatus = 'F')
     OR (o_orderkey >= 200 AND o_orderkey < 500 AND o_orderkey % 7 = 0)
), ch AS (
  SELECT 'insert' AS change_type, * FROM ins
  UNION ALL SELECT 'delete' AS change_type, * FROM del
)
SELECT change_type, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS scoped
FROM ch GROUP BY change_type, o_orderstatus
"""


def q_versioned_restore(spark, sf):
    """RESTORE as an O(manifest) rollback (sinks/versioned.py
    restore_version — the Delta ``RESTORE TABLE`` recovery path): v1 =
    orders range-clustered into 8 files with a Bloom index on
    o_orderkey; v2 = COW delete of finished orders with key ≡0 mod 3;
    v3 = MOR delete of key ≡0 mod 7; v4 = restore to v1, undoing both.
    The query reads v3 (post-both-deletes) and v4 (== the source —
    read equality after rollback IS the contract); the oracle replays
    both states from the source rows.

    Metadata literals (oracle-pinned TRUE): ``restore_zero_copy`` (the
    restore commit wrote ZERO data files and v4's manifest lists
    exactly v1's files — rollback of any-size table costs one manifest
    write); ``index_chained`` (the head's Bloom index is a
    zero-increment chain link onto v1's, never a rebuild);
    ``cdf_undo_ok`` (read_changes(3, 4) is all-insert and re-inserts
    exactly the rows the two deletes removed — the feed sees a restore
    as the row-level undo set); ``probe_scoped`` (a pruned key lookup
    on the restored head still skips files — the chained index is
    functional, not just present). The aggregates are computed off the
    real reads, so a restore that resurrected too much or too little
    also fails the value hash."""
    from .sinks.versioned import (
        delete_version,
        load_manifest,
        read_changes,
        read_version,
        read_version_pruned,
        restore_version,
        write_bloom_index,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_restore_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o.repartitionByRange(8, "o_orderkey"), t)
        write_bloom_index(spark, t, "o_orderkey")
        delete_version(
            spark,
            t,
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0),
        )
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")
        r = restore_version(spark, t, 1)
        m1, m4 = load_manifest(t, 1), load_manifest(t, 4)
        restore_zero_copy = (
            r["data_files_written"] == 0 and m4["files"] == m1["files"]
        )
        index_chained = r["index"] == {"o_orderkey": "chained"}
        undo = read_changes(spark, t, 3, 4)
        n_undone = undo.groupBy("_change_type").count().collect()
        cdf_undo_ok = len(n_undone) == 1 and n_undone[0]["_change_type"] == (
            "insert"
        ) and n_undone[0]["count"] == m1["n_rows"] - load_manifest(t, 3)["n_rows"]
        # a key that v3's MOR delete removed and the restore
        # resurrected (derived from the data — synthetic orderkeys are
        # sparse); the clustered layout puts it in one file, the
        # chained index must prune the rest
        k7 = o.filter(F.col("o_orderkey") % 7 == 0).agg(
            F.min("o_orderkey")
        ).first()[0]
        probe, info = read_version_pruned(spark, t, keys={"o_orderkey": [k7]})
        probe_scoped = (
            probe.count() == 1 and info["files_read"] < info["files_total"]
        )

        def agg(df, tag):
            return df.groupBy("o_orderstatus").agg(
                F.lit(tag).alias("snapshot"),
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )

        return materialize(
            agg(read_version(spark, t, version=3), "v3")
            .unionByName(agg(read_version(spark, t, version=4), "v4"))
            .select("snapshot", "o_orderstatus", "n", "key_sum", "cents")
            .withColumn("restore_zero_copy", F.lit(restore_zero_copy))
            .withColumn("index_chained", F.lit(index_chained))
            .withColumn("cdf_undo_ok", F.lit(cdf_undo_ok))
            .withColumn("probe_scoped", F.lit(probe_scoped))
        )


SQL_VERSIONED_RESTORE = """
WITH v2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
), v3 AS (
  SELECT * FROM v2 WHERE NOT (o_orderkey % 7 = 0)
), states AS (
  SELECT 'v3' AS snapshot, * FROM v3
  UNION ALL
  SELECT 'v4' AS snapshot, o_orderkey, o_orderstatus, o_totalprice FROM orders
)
SELECT snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS restore_zero_copy, TRUE AS index_chained,
       TRUE AS cdf_undo_ok, TRUE AS probe_scoped
FROM states GROUP BY snapshot, o_orderstatus
"""


def q_versioned_update(spark, sf):
    """UPDATE on versioned tables, both cost profiles
    (sinks/versioned.py update_version): v1 = orders range-clustered
    into 8 files; v2 = COW update (double the price of early finished
    orders, key < 1000 — range-scoped so the clustering bounds which
    files rewrite); v3 = MOR update (+1 the price of key ≡0 mod 7 —
    zero files rewritten: matched rows' old images hide behind a DV
    sidecar, updated images append as new files, the Delta DV-UPDATE
    execution). The query reads v2 and v3; the oracle replays both
    states from the source rows.

    Metadata literals (oracle-pinned TRUE): ``cow_scoped`` (the COW
    update rewrote FEWER than all 8 files and carried the rest),
    ``mor_zero_rewrite`` (the MOR update rewrote ZERO files, added ≥1
    image file + a DV sidecar, and left n_rows unchanged — UPDATE
    never changes cardinality), and ``asof_ok`` (timestamp time travel:
    version_as_of resolves a wall-clock instant captured between the
    commits to exactly v2 — the Delta TIMESTAMP AS OF read)."""
    import time as _time

    from .sinks.versioned import (
        read_version,
        update_version,
        version_as_of,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_update_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o.repartitionByRange(8, "o_orderkey"), t)
        r2 = update_version(
            spark,
            t,
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") < 1000),
            {"o_totalprice": F.col("o_totalprice") * 2},
        )
        ts_between = _time.time()
        _time.sleep(0.01)
        r3 = update_version(
            spark,
            t,
            F.col("o_orderkey") % 7 == 0,
            {"o_totalprice": F.col("o_totalprice") + 1},
            mode="mor",
        )
        cow_scoped = 0 < r2["files_rewritten"] < 8 and r2["files_carried"] >= 1
        mor_zero_rewrite = (
            r3["files_rewritten"] == 0
            and r3["files_added"] >= 1
            and r3["n_rows"] == r2["n_rows"]
        )
        asof_ok = version_as_of(t, ts_between) == 2

        def agg(df, tag):
            return df.groupBy("o_orderstatus").agg(
                F.lit(tag).alias("snapshot"),
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )

        return materialize(
            agg(read_version(spark, t, version=2), "v2")
            .unionByName(agg(read_version(spark, t, version=3), "v3"))
            .select("snapshot", "o_orderstatus", "n", "key_sum", "cents")
            .withColumn("cow_scoped", F.lit(cow_scoped))
            .withColumn("mor_zero_rewrite", F.lit(mor_zero_rewrite))
            .withColumn("asof_ok", F.lit(asof_ok))
        )


SQL_VERSIONED_UPDATE = """
WITH v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' AND o_orderkey < 1000
              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders
), v3 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM v2
), states AS (
  SELECT 'v2' AS snapshot, * FROM v2
  UNION ALL SELECT 'v3' AS snapshot, * FROM v3
)
SELECT snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS cow_scoped, TRUE AS mor_zero_rewrite, TRUE AS asof_ok
FROM states GROUP BY snapshot, o_orderstatus
"""


def q_cdc_replicate(spark, sf):
    """End-to-end incremental replication (sinks/versioned.py
    replicate_changes): a keyed replica follows a source table through
    one of each commit kind without EITHER side scanning its full
    table. Source: v1 = orders range-clustered into 8 files
    (bootstrap-replicated with a range-clustered layout, so later
    applies can exploit file skipping); v2 = COW update (double the
    price of early finished orders, key < 1000); v3 = MOR delete (key
    ∈ [200, 500) ≡0 mod 7 — range-scoped, DV sidecar); v4 = append
    (negated keys ≡0 mod 13 — brand-new keys, pure inserts). One
    replicate_changes call then applies the v1→v4 change feed as a
    single merge with delete directives — an update's delete+insert
    pair nets to the upsert by the data-beats-directive rule. The
    query aggregates the REPLICA; the oracle replays the source's
    final state, so any drift (missed delete, resurrected row, skipped
    update) fails the value hash.

    Metadata literals (oracle-pinned TRUE): ``feed_incremental`` (the
    applied change count is strictly smaller than the table — the
    O(changed files) feed, not a snapshot copy), ``cursor_ok`` (the
    crash-safe cursor advanced exactly 1 → 4), and ``replica_scoped``
    (the apply REWROTE fewer replica files than it carried — merge
    touches only files holding changed keys)."""
    from .sinks.versioned import (
        delete_version,
        read_version,
        replicate_changes,
        update_version,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_cdc_replicate_") as d:
        src, dst = os.path.join(d, "src"), os.path.join(d, "dst")
        write_version(spark, o.repartitionByRange(8, "o_orderkey"), src)
        r1 = replicate_changes(
            spark, src, dst, keys=["o_orderkey"],
            bootstrap_cluster_by=["o_orderkey"],
        )
        update_version(
            spark,
            src,
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") < 1000),
            {"o_totalprice": F.col("o_totalprice") * 2},
        )
        delete_version(
            spark,
            src,
            (F.col("o_orderkey") >= 200)
            & (F.col("o_orderkey") < 500)
            & (F.col("o_orderkey") % 7 == 0),
            mode="mor",
        )
        inc = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
            "o_orderkey", -F.col("o_orderkey") - 1
        )
        write_version(spark, inc, src, mode="append")
        r2 = replicate_changes(spark, src, dst, keys=["o_orderkey"])
        n_src = read_version(spark, src).count()
        feed_incremental = 0 < r2["n_changes"] < n_src
        cursor_ok = (
            r1["applied_to"] == 1
            and r2["applied_from"] == 1
            and r2["applied_to"] == 4
        )
        from .sinks.versioned import load_manifest

        m_dst = load_manifest(dst, r2["dst_version"])
        m_dst_prev = load_manifest(dst, r2["dst_version"] - 1)
        carried = len(set(m_dst["files"]) & set(m_dst_prev["files"]))
        replica_scoped = carried > 0  # range-scoped changes skip files

        return materialize(
            read_version(spark, dst)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )
            .withColumn("feed_incremental", F.lit(feed_incremental))
            .withColumn("cursor_ok", F.lit(cursor_ok))
            .withColumn("replica_scoped", F.lit(replica_scoped))
        )


SQL_CDC_REPLICATE = """
WITH v2 AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderstatus = 'F' AND o_orderkey < 1000
              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
  FROM orders
), v3 AS (
  SELECT * FROM v2
  WHERE NOT (o_orderkey >= 200 AND o_orderkey < 500 AND o_orderkey % 7 = 0)
), v4 AS (
  SELECT * FROM v3
  UNION ALL
  SELECT -o_orderkey - 1, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS feed_incremental, TRUE AS cursor_ok, TRUE AS replica_scoped
FROM v4 GROUP BY o_orderstatus
"""


def q_versioned_optimize(spark, sf):
    """OPTIMIZE orchestration (sinks/versioned.py optimize_table): v1 =
    orders deliberately fragmented into 32 hash-scattered files (every
    file covers the whole key range — the state a streaming ingest
    leaves behind); v2 = MOR delete (key ≡0 mod 7) accumulating a DV
    sidecar; v3 = ONE optimize_table call — bin-pack to ~bytes/8 per
    file, re-cluster on o_orderkey, fold the DVs, rebuild the Bloom
    index. The query aggregates the optimized head; the oracle replays
    the live rows, so a fold that dropped or resurrected a row fails
    the value hash.

    Literals (oracle-pinned TRUE): ``compacted`` (fewer files than the
    fragmented input), ``dvs_folded`` (v2's manifest records sidecars,
    v3's records none), ``range_skips`` (a key-range probe on the
    re-clustered head reads fewer files than the manifest lists — the
    envelope-tightening that hash-scatter had destroyed), and
    ``key_probe_skips`` (the rebuilt Bloom index prunes an equality
    probe). Time travel to the pre-optimize versions is exercised by
    the unit tests; here the literals pin the maintenance contract."""
    from .sinks.versioned import (
        delete_version,
        load_manifest,
        optimize_table,
        read_version,
        read_version_pruned,
        write_bloom_index,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_optimize_") as d:
        t = os.path.join(d, "orders_v")
        write_version(spark, o.repartition(32), t)
        write_bloom_index(spark, t, "o_orderkey")
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")
        bytes_now = sum(
            os.path.getsize(f) for f in load_manifest(t, 2)["files"]
        )
        r = optimize_table(
            spark,
            t,
            cluster_by=["o_orderkey"],
            target_file_bytes=max(1, bytes_now // 8),
        )
        compacted = r["files_after"] < r["files_before"] == 32
        dvs_folded = r["dv_files_folded"] >= 1 and not load_manifest(
            t, r["version"]
        ).get("dv_files")
        lo = o.agg(F.min("o_orderkey")).first()[0]
        _, info_r = read_version_pruned(
            spark, t, ranges={"o_orderkey": (lo, lo + 10)}
        )
        range_skips = info_r["files_read"] < info_r["files_total"]
        k = o.filter(F.col("o_orderkey") % 7 != 0).agg(
            F.min("o_orderkey")
        ).first()[0]
        probe, info_k = read_version_pruned(spark, t, keys={"o_orderkey": [k]})
        key_probe_skips = (
            probe.count() == 1 and info_k["files_read"] < info_k["files_total"]
        )

        return materialize(
            read_version(spark, t)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
            )
            .withColumn("compacted", F.lit(compacted))
            .withColumn("dvs_folded", F.lit(dvs_folded))
            .withColumn("range_skips", F.lit(range_skips))
            .withColumn("key_probe_skips", F.lit(key_probe_skips))
        )


SQL_VERSIONED_OPTIMIZE = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS compacted, TRUE AS dvs_folded,
       TRUE AS range_skips, TRUE AS key_probe_skips
FROM orders WHERE NOT (o_orderkey % 7 = 0)
GROUP BY o_orderstatus
"""


def q_versioned_stats_skip(spark, sf):
    """Recorded add-file stats (write_version ``stats_cols`` — the
    Delta pattern): v1 = orders range-clustered into 8 files with
    recorded per-file o_orderkey envelopes; v2 = append of a disjoint
    high-key increment WITHOUT re-passing stats_cols (the column list
    must inherit). A range probe then prunes DRIVER-SIDE from the
    manifest alone — at 100k files the per-query footer pass this
    replaces IS the query latency. The probe's aggregated rows are the
    value check (oracle replays the range filter).

    Literals (oracle-pinned TRUE): ``zero_footer`` (footer_files == 0:
    every file was decided from recorded stats — the metadata-only
    contract), ``pruned`` (files_read < files_total), and
    ``full_coverage`` (every manifest file has a recorded entry after
    the inheriting append)."""
    from .sinks.versioned import (
        load_manifest,
        read_version_pruned,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_versioned_stats_") as d:
        t = os.path.join(d, "orders_v")
        write_version(
            spark,
            o.repartitionByRange(8, "o_orderkey"),
            t,
            stats_cols=["o_orderkey"],
        )
        inc = o.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
        write_version(
            spark, inc.repartitionByRange(2, "o_orderkey"), t, mode="append"
        )
        m = load_manifest(t, 2)
        full_coverage = set(m.get("stats") or {}) == set(m["files"])
        df, info = read_version_pruned(
            spark, t, ranges={"o_orderkey": (0, 1000)}
        )
        zero_footer = info["footer_files"] == 0
        pruned = info["files_read"] < info["files_total"]
        return materialize(
            df.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
            .withColumn("zero_footer", F.lit(zero_footer))
            .withColumn("pruned", F.lit(pruned))
            .withColumn("full_coverage", F.lit(full_coverage))
        )


SQL_VERSIONED_STATS_SKIP = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       TRUE AS zero_footer, TRUE AS pruned, TRUE AS full_coverage
FROM orders WHERE o_orderkey >= 0 AND o_orderkey <= 1000
GROUP BY o_orderstatus
"""


def q_maintenance_advisor(spark, sf):
    """Metadata-only maintenance advisor (sinks/versioned.py
    maintenance_plan / layout_report): orders land round-robin in 32
    tiny files (every envelope spans the whole key domain) and a MOR
    delete stages DV sidecars — the state a continuous ingest leaves
    behind. The advisor must flag all three degradations (fragmented /
    dv_heavy / declustered) BEFORE, recommend OPTIMIZE, and clear all
    three AFTER one optimize_table run — at manifest cost, no data
    reads. The per-phase row also carries the live row count and key
    sum so the oracle ties the advisory cycle to real table contents
    (an optimize that lost rows fails the hash, not just the flags)."""
    from .sinks.versioned import (
        delete_version,
        maintenance_plan,
        optimize_table,
        read_version,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    with scratch_dir("q_maint_advisor_") as d:
        t = os.path.join(d, "orders_v")
        write_version(
            spark, o.repartition(32), t, stats_cols=["o_orderkey"]
        )
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")
        before = maintenance_plan(t, cluster_col="o_orderkey", max_dv_files=0)
        optimize_table(spark, t, cluster_by=["o_orderkey"])
        after = maintenance_plan(
            t, cluster_col="o_orderkey", max_dv_files=0,
            small_file_bytes=1024,
        )

        def phase(tag, plan):
            return (
                read_version(spark, t)
                .agg(
                    F.lit(tag).alias("phase"),
                    F.count("*").alias("n"),
                    F.sum("o_orderkey").cast("long").alias("key_sum"),
                )
                .withColumn("fragmented", F.lit(plan["fragmented"]))
                .withColumn("dv_heavy", F.lit(plan["dv_heavy"]))
                .withColumn("declustered", F.lit(plan["declustered"]))
                .withColumn(
                    "recommend_optimize", F.lit(plan["recommend_optimize"])
                )
            )

        return materialize(
            phase("before", before)
            .unionByName(phase("after", after))
            .select(
                "phase", "n", "key_sum", "fragmented", "dv_heavy",
                "declustered", "recommend_optimize",
            )
        )


SQL_MAINTENANCE_ADVISOR = """
SELECT p.phase,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       p.phase = 'before' AS fragmented,
       p.phase = 'before' AS dv_heavy,
       p.phase = 'before' AS declustered,
       p.phase = 'before' AS recommend_optimize
FROM orders, (SELECT 'before' AS phase UNION ALL SELECT 'after') p
WHERE NOT (o_orderkey % 7 = 0)
GROUP BY p.phase
"""


def q_scd2_from_changes(spark, sf):
    """SCD Type-2 history maintained INCREMENTALLY from a change data
    feed (sinks/versioned.py scd2_apply_changes — contrast the
    snapshot-diff twin ``scd2_customer_history``, which scans the full
    dimension per run): customers load at t1; at t2 every custkey ≡0
    mod 3 moves segment to 'PROMO'; at t3 every custkey ≡0 mod 11
    RETIRES (hard delete — the case snapshot-diff SCD2 needs a full
    scan to notice, and the feed hands over for free). Three applies
    stamp 2024-01/02/03-01; the oracle constructs the exact expected
    history — close/reopen per change, retirement closing WITHOUT
    reopening, pass-through keys untouched.

    Literals (oracle-pinned TRUE): ``incremental`` (the second apply
    opened exactly the changed keys, strictly fewer than the table —
    the O(changes) contract) and ``retired_closed`` (the third apply
    opened ZERO rows while closing the retirees)."""
    from .sinks.versioned import (
        delete_version,
        scd2_apply_changes,
        update_version,
        write_version,
    )

    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    with scratch_dir("q_scd2_cdf_") as d:
        src, dim = os.path.join(d, "src"), os.path.join(d, "dim")
        write_version(spark, c.repartitionByRange(4, "c_custkey"), src)
        r1 = scd2_apply_changes(spark, src, dim, ["c_custkey"], "2024-01-01")
        update_version(
            spark, src, F.col("c_custkey") % 3 == 0,
            {"c_mktsegment": F.lit("PROMO")},
        )
        r2 = scd2_apply_changes(spark, src, dim, ["c_custkey"], "2024-02-01")
        delete_version(spark, src, F.col("c_custkey") % 11 == 0)
        r3 = scd2_apply_changes(spark, src, dim, ["c_custkey"], "2024-03-01")
        incremental = 0 < r2["n_opened"] < r1["n_opened"]
        retired_closed = r3["n_opened"] == 0 and r3["n_closed"] > 0
        from .sinks.versioned import read_version

        return materialize(
            read_version(spark, dim)
            .select(
                "c_custkey", "c_mktsegment", "c_nationkey",
                "valid_from", "valid_to", "is_current",
            )
            .withColumn("incremental", F.lit(incremental))
            .withColumn("retired_closed", F.lit(retired_closed))
        )


SQL_SCD2_FROM_CHANGES = """
WITH c AS (SELECT c_custkey, c_mktsegment, c_nationkey,
                  c_custkey % 3 = 0 AS chg2, c_custkey % 11 = 0 AS ret3
           FROM customer)
SELECT c_custkey, c_mktsegment, c_nationkey,
       '2024-01-01' AS valid_from,
       CASE WHEN chg2 THEN '2024-02-01'
            WHEN ret3 THEN '2024-03-01' END AS valid_to,
       NOT (chg2 OR ret3) AS is_current,
       TRUE AS incremental, TRUE AS retired_closed
FROM c
UNION ALL
SELECT c_custkey, 'PROMO', c_nationkey, '2024-02-01',
       CASE WHEN ret3 THEN '2024-03-01' END,
       NOT ret3, TRUE, TRUE
FROM c WHERE chg2
"""


def q_expectations_quarantine(spark, sf):
    """Write-time expectations with quarantine routing
    (operators/quality.py write_with_expectations — the Delta Live
    Tables expect/quarantine/metrics loop on the versioned-table
    sink): orders are dirtied deterministically (status NULLed for key
    ≡0 mod 13, price negated for key ≡0 mod 17), then committed
    through two rules (not_null(status), in_range(price, 0, 1e9)).
    Valid rows land in the main table, violating rows in the
    quarantine table WITH their ``_violations`` labels. The query
    groups the READ-BACK tables by violation bucket ('valid' or the
    comma-joined rule names), so a row routed to the wrong table, a
    mislabeled cause, or a dropped row all fail the value hash; the
    oracle replays the dirtying + rule logic in SQL.

    ``counts_match`` literal (oracle-pinned TRUE): the run's metrics
    dict (n_valid / n_quarantined / per-rule counts — computed in ONE
    aggregation over the persisted annotated frame) equals what the
    committed tables independently say."""
    from .operators.quality import in_range, not_null, write_with_expectations
    from .sinks.versioned import read_version

    src = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 13 != 0, F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(
            F.col("o_orderkey") % 17 == 0, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    rules = [not_null("o_orderstatus"), in_range("o_totalprice", 0, 10**9)]
    with scratch_dir("q_expectations_") as d:
        t_main, t_quar = os.path.join(d, "main"), os.path.join(d, "quarantine")
        r = write_with_expectations(spark, src, rules, t_main, t_quar)
        main = read_version(spark, t_main)
        if r["quarantine_version"] is None:
            # clean run (e.g. an empty partition): no quarantine table
            # was ever committed — an empty labeled frame keeps the
            # bucket union shape
            from pyspark.sql.types import ArrayType, StringType

            quar = spark.createDataFrame(
                [], main.schema.add("_violations", ArrayType(StringType()))
            )
        else:
            quar = read_version(spark, t_quar)
        by_rule = quar.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.count(
                    F.when(F.array_contains("_violations", rl.name), 1)
                ).alias(rl.name)
                for rl in rules
            ],
        ).first()
        counts_match = (
            r["n_valid"] == main.count()
            and r["n_quarantined"] == by_rule["__n"]
            and all(r["by_rule"][rl.name] == by_rule[rl.name] for rl in rules)
        )

        def agg(df, bucket):
            return df.groupBy(bucket.alias("bucket")).agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )

        return materialize(
            agg(main, F.lit("valid"))
            .unionByName(agg(quar, F.array_join("_violations", ",")))
            .withColumn("counts_match", F.lit(counts_match))
        )


SQL_EXPECTATIONS_QUARANTINE = """
WITH src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderstatus END AS st,
         CASE WHEN o_orderkey % 17 = 0 THEN -o_totalprice
              ELSE o_totalprice END AS price
  FROM orders
), lab AS (
  SELECT *, CONCAT_WS(',',
    CASE WHEN st IS NULL THEN 'o_orderstatus_null' END,
    CASE WHEN price IS NOT NULL AND NOT (price >= 0 AND price <= 1000000000)
         THEN 'o_totalprice_out_of_range' END) AS labels
  FROM src
)
SELECT CASE WHEN labels = '' THEN 'valid' ELSE labels END AS bucket,
       COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       TRUE AS counts_match
FROM lab GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# class prototypes (operators/clustering.py label_centroids)
# ---------------------------------------------------------------------------


def q_label_centroids(spark, sf):
    """Per-label embedding centroids in specified fixed-point
    arithmetic (micro-unit quantization → int64 sums → one IEEE
    division chain): partition-invariant AND engine-exact, unlike
    float sums or double→decimal casts (which round differently per
    engine). One explode + one aggregation on (label, dim)."""
    from .operators.clustering import label_centroids

    return label_centroids(_t(spark, sf, "embeddings"))


SQL_LABEL_CENTROIDS = """
WITH ex AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         unnest(embedding) AS v
  FROM embeddings
), qq AS (
  SELECT label, dim,
         CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM ex
)
SELECT label, dim,
       CAST(SUM(q) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean_q,
       COUNT(*) AS n
FROM qq GROUP BY label, dim
"""


# ---------------------------------------------------------------------------
# BPE merge training (operators/bpe.py)
# ---------------------------------------------------------------------------


def q_bpe_pair_counts(spark, sf):
    """Round-1 of distributed BPE training through the real operator
    path (word-frequency collapse → weighted adjacent-pair counts):
    the full (a, b, cnt) pair table the first merge argmax reads. The
    iterative trainer (bpe_train) reuses exactly this aggregation per
    round; its multi-round behavior is locked by pure-Python replay
    tests (test_bpe.py)."""
    from .operators.bpe import pair_counts, word_freq_table

    return pair_counts(word_freq_table(_t(spark, sf, "documents"))).select(
        "a", "b", F.col("cnt").cast("long").alias("cnt")
    )


SQL_BPE_PAIR_COUNTS = r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
), wf AS (
  SELECT w, COUNT(*) AS freq FROM words WHERE w != '' GROUP BY w
), pairs AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, freq
  FROM wf, unnest(range(1, len(w))) AS t(i)
  UNION ALL
  SELECT substr(w, len(w), 1) AS a, '</w>' AS b, freq FROM wf
)
SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM pairs GROUP BY a, b
"""


def q_bpe_encode(spark, sf):
    """Multi-merge BPE end-to-end through the BATCHED trainer
    (operators/bpe.py bpe_train(batch_k=3)): ONE pair-count round
    selects the top-3 count-disjoint merges (greedy by cnt desc, pair
    lex asc, skipping any pair sharing a symbol with an earlier
    selection), then bpe_encode applies them as chained greedy-leftmost
    folds per distinct word. The oracle replays the whole thing in
    SQL: the same pair counts, the same greedy disjoint selection
    (ranked CTE + anti-membership), and the same merge application —
    each merge as a recursive CTE rewriting the leftmost occurrence in
    a unit-separator-delimited symbol string until none remains (one
    occurrence per step ≡ the fold's greedy-leftmost semantics).
    Corpus restricted to printable-ASCII docs so chr(31) is a safe
    delimiter. Output: (doc_id, n_tokens, tok_md5)."""
    from .operators.bpe import bpe_encode, bpe_train

    docs = _t(spark, sf, "documents").filter(F.col("text").rlike("^[ -~]+$"))
    # max_rounds=1 pins the trainer to the SINGLE round the oracle
    # replays: if the corpus yields fewer than 3 disjoint merges, both
    # sides apply the same shorter list (the oracle's missing m2/m3
    # degrade to sentinel pass-throughs) instead of the trainer
    # continuing with post-merge counts the oracle never sees
    merges = bpe_train(docs, n_merges=3, batch_k=3, max_rounds=1)
    enc = bpe_encode(docs, merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("tok_md5"),
    )


def _sql_bpe_apply(src: str, m: str, out_cte: str, rec_cte: str) -> str:
    """One recursive-CTE merge application: rewrite the leftmost
    ``US a US b US`` occurrence to ``US ab US`` until none remains.
    An EMPTY merge selection (the corpus yielded fewer disjoint merges
    than the oracle unrolls) coalesces the pattern to a chr(30)
    sentinel that can never occur in the chr(31)-delimited
    printable-ASCII symbol string — the stage degrades to an exact
    pass-through, matching the trainer's shorter merge list."""
    pat = (
        f"COALESCE((SELECT chr(31) || a || chr(31) || b || chr(31) FROM {m}), "
        "chr(30))"
    )
    rep = f"COALESCE((SELECT chr(31) || a || b || chr(31) FROM {m}), chr(30))"
    return f"""
{rec_cte}(word, s) AS (
  SELECT word, s FROM {src}
  UNION
  SELECT word,
         substr(s, 1, strpos(s, {pat}) - 1) || {rep}
           || substr(s, strpos(s, {pat}) + length({pat}))
  FROM {rec_cte}
  WHERE strpos(s, {pat}) > 0
),
{out_cte} AS (SELECT word, s FROM {rec_cte} WHERE strpos(s, {pat}) = 0)"""


SQL_BPE_ENCODE = f"""
WITH RECURSIVE
tok AS (
  SELECT doc_id, i AS pos, t[i] AS word
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE regexp_matches(text, '^[ -~]+$')),
       UNNEST(range(1, len(t) + 1)) AS u(i)
  WHERE t[i] <> ''
),
wf AS (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word),
w0 AS (
  SELECT word,
         chr(31) || array_to_string(
           list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)),
           chr(31)) || chr(31) || '</w>' || chr(31) AS s
  FROM wf
),
p1 AS (
  SELECT a, b, SUM(freq) AS cnt FROM (
    SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, freq
    FROM wf, UNNEST(range(1, length(word))) AS t(i)
    UNION ALL
    SELECT substr(word, length(word), 1) AS a, '</w>' AS b, freq FROM wf
  ) GROUP BY a, b
),
-- rk <= 256 bounds the greedy search to the SAME candidate pool the
-- trainer collects (bpe_train: pool = max(16*want, 256) = 256 for the
-- entry's want=3) — an unbounded oracle search could find a disjoint
-- pair past the trainer's pool horizon and apply a merge the trainer
-- never saw
r1 AS (SELECT a, b, cnt, rk FROM (
         SELECT a, b, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rk
         FROM p1 WHERE cnt >= 2) WHERE rk <= 256),
m1 AS (SELECT a, b FROM r1 ORDER BY rk LIMIT 1),
m2 AS (SELECT y.a, y.b FROM r1 y, m1
       WHERE y.a NOT IN (m1.a, m1.b) AND y.b NOT IN (m1.a, m1.b)
       ORDER BY y.rk LIMIT 1),
m3 AS (SELECT y.a, y.b FROM r1 y, m1, m2
       WHERE y.a NOT IN (m1.a, m1.b, m2.a, m2.b)
         AND y.b NOT IN (m1.a, m1.b, m2.a, m2.b)
       ORDER BY y.rk LIMIT 1),
{_sql_bpe_apply('w0', 'm1', 'w1', 'a1')},
{_sql_bpe_apply('w1', 'm2', 'w2', 'a2')},
{_sql_bpe_apply('w2', 'm3', 'w3', 'a3')},
enc AS (SELECT word, string_split(trim(s, chr(31)), chr(31)) AS toks FROM w3),
assembled AS (
  SELECT t.doc_id, flatten(list(e.toks ORDER BY t.pos)) AS tokens
  FROM tok t JOIN enc e USING (word)
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
       md5(array_to_string(tokens, ' ')) AS tok_md5
FROM assembled
"""


# ---------------------------------------------------------------------------
# CDC snapshot diff (operators/cdc.py)
# ---------------------------------------------------------------------------


def q_snapshot_diff_orders(spark, sf):
    """CDC delta between two deterministic snapshots of orders: keys
    ≡0 mod 7 deleted, ≡3 mod 5 re-priced (decimal-exact ×1.1),
    synthetic negative-key rows inserted. One full-outer join + one
    null-safe struct compare; unchanged rows are not emitted."""
    from .operators.cdc import snapshot_diff

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    new = (
        o.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 3,
                (_dec("o_totalprice") * F.lit("1.1").cast("decimal(2,1)")).cast(
                    "double"
                ),
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 1).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.col("o_totalprice"),
            )
        )
    )
    return snapshot_diff(o, new, keys=["o_orderkey"])


SQL_SNAPSHOT_DIFF_ORDERS = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 3
              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 != 0
  UNION ALL
  SELECT -o_orderkey, 'N', o_totalprice FROM orders WHERE o_orderkey % 11 = 1
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            WHEN (o.o_orderstatus, o.o_totalprice) IS DISTINCT FROM
                 (n.o_orderstatus, n.o_totalprice) THEN 'update'
       END AS change_type,
       o.o_orderstatus AS old_o_orderstatus, n.o_orderstatus AS new_o_orderstatus,
       o.o_totalprice AS old_o_totalprice, n.o_totalprice AS new_o_totalprice
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
           WHEN n.o_orderkey IS NULL THEN 'delete'
           WHEN (o.o_orderstatus, o.o_totalprice) IS DISTINCT FROM
                (n.o_orderstatus, n.o_totalprice) THEN 'update'
      END IS NOT NULL
"""


# ---------------------------------------------------------------------------
# lake maintenance (operators/lake.py)
# ---------------------------------------------------------------------------


def q_compaction_roundtrip(spark, sf):
    """Small-file compaction through its REAL write path: events are
    fragmented into 48 shard files, compact_small_files bin-packs them
    (range-clustered on ts), and the compacted copy must aggregate
    identically to the source table — content preservation under
    re-layout, checked by the oracle on the original."""
    from .operators.lake import compact_small_files

    with scratch_dir("q_compact_") as d:
        frag, packed = os.path.join(d, "frag"), os.path.join(d, "packed")
        _t(spark, sf, "events").repartition(48).write.parquet(frag)
        stats = compact_small_files(
            spark, frag, packed, target_file_bytes=64 * 1024 * 1024,
            order_cols=["ts"],
        )
        # strict reduction only when there is something to compact (an
        # empty/tiny input already sits in one file)
        if stats["n_files_in"] > 1:
            assert stats["n_files_out"] < stats["n_files_in"], stats
        return materialize(
            spark.read.parquet(packed)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                    "cents"
                ),
                F.min("event_id").alias("min_id"),
                F.max("event_id").alias("max_id"),
            )
        )


SQL_COMPACTION_ROUNDTRIP = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
       MIN(event_id) AS min_id,
       MAX(event_id) AS max_id
FROM events GROUP BY event_type
"""


def q_schema_evolution_union(spark, sf):
    """Schema-evolution append: a v1 batch (no props column) unions a
    v2 batch (adds props) by NAME with missing columns null-filled —
    the unionByName(allowMissingColumns=True) path every long-lived
    ingest needs; the oracle replays it with UNION ALL BY NAME."""
    e = _t(spark, sf, "events")
    v1 = e.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )
    v2 = e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    return v1.unionByName(v2, allowMissingColumns=True)


SQL_SCHEMA_EVOLUTION_UNION = """
SELECT event_id, user_id, event_type, value, NULL AS props
FROM events WHERE event_id % 2 = 0
UNION ALL BY NAME
SELECT event_id, user_id, event_type, value, props
FROM events WHERE event_id % 2 = 1
"""


def q_versioned_pruned_read(spark, sf):
    """Predicate read of a versioned table WITH file skipping
    (sinks/versioned.read_version_pruned): v1 = events range-clustered
    by event_id into 8 files, then a selective range predicate is
    answered consulting ONLY per-file min/max footer envelopes before
    any data page is opened. HARD oracle in two parts: the aggregate
    must match a plain filtered scan of the source table bit-for-bit
    (pruning may change which files are read, never the result), and
    the emitted ``pruned`` column asserts files_read < files_total
    against the oracle's literal TRUE — if skipping silently stops
    engaging, the driver goes red, not just slow."""
    from .sinks.versioned import read_version_pruned, write_version

    e = _t(spark, sf, "events").select("event_id", "event_type", "user_id")
    with scratch_dir("q_vpruned_") as d:
        t = os.path.join(d, "events_v")
        write_version(spark, e.repartitionByRange(8, "event_id"), t)
        df, info = read_version_pruned(spark, t, ranges={"event_id": (100, 199)})
        return materialize(
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").alias("sum_id"),
                F.sum("user_id").alias("sum_user"),
            )
            .withColumn("pruned", F.lit(info["files_read"] < info["files_total"]))
            .select("event_type", "n", "sum_id", "sum_user", "pruned")
        )


SQL_VERSIONED_PRUNED_READ = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       TRUE AS pruned
FROM events WHERE event_id BETWEEN 100 AND 199
GROUP BY event_type
"""


def q_streaming_curated_ingest(spark, sf):
    """The production INGEST shape, composed end-to-end under one hard
    oracle: documents arrive as a file stream in micro-batches
    (``maxFilesPerTrigger=1`` over a 4-file range-clustered stage),
    each batch flows through the batch-identical Gopher repetition
    screens inside ``foreachBatch``, survivors append-commit into a
    versioned table whose first commit declares a Bloom index on
    ``doc_id`` (every later commit maintains it), and the final read is a
    ``keys=`` probe through :func:`read_version_pruned`. Three things
    are locked at once: streaming/batch gate parity (the kept set must
    equal the oracle's batch SQL), multi-batch append semantics
    (``multi_batch`` literal pins ≥2 commits — if the stream collapses
    to one batch the row goes red), and at-rest index pruning
    (``pruned`` literal pins files_read < files_total; the probe ids
    live in the lowest range bucket, so a working index must skip the
    other commits' files).

    Cost note: append commits maintain the Bloom index INCREMENTALLY
    (``sinks.versioned.maintain_bloom_index``: only the commit's new
    files are hashed; prior index parquet is carried BY REFERENCE via
    the recorded chain, with periodic compaction), so per-batch index
    work is O(increment), matching the append itself. A continuous
    production stream pays the same bounded cost per micro-batch
    instead of an O(table) reindex. The ``chained`` literal PROVES that
    path engaged rather than trusting it: the final version's recorded
    ``_params.json`` must carry a non-empty chain (i.e. the last
    commit's index dir holds only that commit's increment, completed
    by prior dirs carried by reference) — if maintenance silently
    regressed to full per-commit rebuilds, the chain would be empty
    and the oracle-pinned TRUE goes red."""
    from .operators.text import gopher_repetition
    from .sinks.versioned import (
        index_params,
        read_version_pruned,
        versions,
        write_bloom_index,
        write_version,
    )
    from .streaming import read_documents_stream

    with scratch_dir("q_stream_curate_") as d:
        stage, tdir = os.path.join(d, "src"), os.path.join(d, "curated")
        _t(spark, sf, "documents").repartitionByRange(4, "doc_id").write.mode(
            "overwrite"
        ).parquet(stage)

        def ingest(batch, _batch_id):
            if batch.isEmpty():
                return
            passing = (
                gopher_repetition(batch)
                .filter(F.col("repetition_pass"))
                .select("doc_id")
            )
            kept = batch.join(passing, "doc_id").select(
                "doc_id", "source", "n_chars"
            )
            if write_version(spark, kept, tdir, mode="append") == 1:
                write_bloom_index(spark, tdir, "doc_id")

        q = (
            read_documents_stream(spark, stage, max_files_per_trigger=1)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        n_versions = len(versions(tdir))
        if n_versions == 0:
            # empty source → no micro-batch ever committed: the curated
            # table legitimately doesn't exist yet; the ingest result is
            # an empty manifest, not an error
            return spark.createDataFrame(
                [],
                "source string, n_docs long, sum_chars long, "
                "multi_batch boolean, pruned boolean, chained boolean",
            )
        # metadata-only proof that the O(increment) maintenance path ran:
        # the final append's recorded chain must be non-empty (≥2 batches
        # committed, so a full rebuild here would mean the incremental
        # path regressed)
        p = index_params(tdir, "doc_id")
        chained = p is not None and len(p["chain"]) > 0
        df, info = read_version_pruned(
            spark, tdir, keys={"doc_id": list(range(120))}
        )
        return materialize(
            df.groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("multi_batch", F.lit(n_versions >= 2))
            .withColumn(
                "pruned", F.lit(info["files_read"] < info["files_total"])
            )
            .withColumn("chained", F.lit(chained))
        )


def q_streaming_quarantine_ingest(spark, sf):
    """Expectation-GATED streaming ingest (the DLT production shape,
    composed from this repo's pieces under one hard oracle): documents
    arrive as a micro-batched file stream (``maxFilesPerTrigger=1``
    over a 4-file range-clustered stage), each batch is dirtied
    deterministically (text NULLed for doc_id ≡0 mod 13, n_chars
    negated for doc_id ≡0 mod 17 — so violations exist in every
    batch), and ``write_with_expectations`` routes each batch: valid
    rows append-commit to the curated versioned table, violating rows
    (with their ``_violations`` labels) append-commit to the
    quarantine versioned table. The query groups BOTH read-back tables
    by violation bucket; the oracle replays dirt + rules in SQL —
    streaming/batch gate parity, per micro-batch.

    Literals (oracle-pinned TRUE): ``multi_batch`` (≥2 commits on each
    table — the stream really micro-batched, and violations flowed in
    more than one batch), ``metrics_consistent`` (the per-batch
    metrics dicts sum exactly to what the committed tables
    independently say — the run's observability is trustworthy), and
    ``labels_intact`` (quarantine rows kept their violation arrays
    through the commit round-trip)."""
    from .operators.quality import in_range, not_null, write_with_expectations
    from .sinks.versioned import read_version, versions

    from .streaming import read_documents_stream

    metrics: list[dict] = []
    with scratch_dir("q_stream_quar_") as d:
        stage = os.path.join(d, "src")
        t_main = os.path.join(d, "curated")
        t_quar = os.path.join(d, "quarantine")
        _t(spark, sf, "documents").repartitionByRange(4, "doc_id").write.mode(
            "overwrite"
        ).parquet(stage)

        def ingest(batch, _batch_id):
            if batch.isEmpty():
                return
            dirty = batch.select(
                "doc_id",
                "source",
                F.when(F.col("doc_id") % 13 != 0, F.col("text")).alias("text"),
                F.when(
                    F.col("doc_id") % 17 == 0, -F.col("n_chars")
                ).otherwise(F.col("n_chars")).alias("n_chars"),
            )
            rules = [not_null("text"), in_range("n_chars", 0, 10**12)]
            metrics.append(
                write_with_expectations(
                    spark, dirty, rules, t_main, t_quar, mode="append"
                )
            )

        q = (
            read_documents_stream(spark, stage, max_files_per_trigger=1)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        if not metrics:
            return spark.createDataFrame(
                [],
                "bucket string, n long, id_sum long, multi_batch boolean, "
                "metrics_consistent boolean, labels_intact boolean",
            )
        main = read_version(spark, t_main)
        quar = read_version(spark, t_quar)
        multi_batch = (
            len(versions(t_main)) >= 2 and len(versions(t_quar)) >= 2
        )
        n_main, n_quar = main.count(), quar.count()
        metrics_consistent = (
            sum(m["n_valid"] for m in metrics) == n_main
            and sum(m["n_quarantined"] for m in metrics) == n_quar
        )
        labels_intact = (
            quar.filter(F.size("_violations") == 0).count() == 0
        )

        def agg(df, bucket):
            return df.groupBy(bucket.alias("bucket")).agg(
                F.count("*").alias("n"),
                F.sum("doc_id").cast("long").alias("id_sum"),
            )

        return materialize(
            agg(main, F.lit("valid"))
            .unionByName(agg(quar, F.array_join("_violations", ",")))
            .withColumn("multi_batch", F.lit(multi_batch))
            .withColumn("metrics_consistent", F.lit(metrics_consistent))
            .withColumn("labels_intact", F.lit(labels_intact))
        )


def q_streaming_exactly_once_ingest(spark, sf):
    """EXACTLY-ONCE streaming ingest via idempotent transactional
    writes (sinks/versioned.py write_version txn_app/txn_version — the
    Delta txnAppId contract): documents stream in micro-batches
    (``maxFilesPerTrigger=1`` over a 4-file stage), and the
    foreachBatch sink deliberately calls the transactional append
    TWICE per batch with the same (app, batch_id) — the exact shape of
    a driver that crashed after committing and re-offered the batch on
    restart. The second call must be a silent skip returning the same
    version. The query aggregates the final table; the oracle is the
    plain documents aggregation — any duplicate from a replay doubles
    a count and fails the value hash.

    Literals (oracle-pinned TRUE): ``exactly_once`` (version count ==
    batch count, despite 2× write calls) and ``replays_skipped``
    (every replay returned its original's version number — the
    indistinguishable-success contract)."""
    from .sinks.versioned import read_version, versions, write_version
    from .streaming import read_documents_stream

    pairs: list[tuple[int, int]] = []
    with scratch_dir("q_stream_eo_") as d:
        stage, tdir = os.path.join(d, "src"), os.path.join(d, "ingested")
        _t(spark, sf, "documents").repartitionByRange(4, "doc_id").write.mode(
            "overwrite"
        ).parquet(stage)

        def ingest(batch, batch_id):
            if batch.isEmpty():
                return
            rows = batch.select("doc_id", "source", "n_chars")
            v1 = write_version(
                spark, rows, tdir, mode="append",
                txn_app="ingest", txn_version=int(batch_id),
            )
            # the crash-replay: same batch id re-offered after restart
            v2 = write_version(
                spark, rows, tdir, mode="append",
                txn_app="ingest", txn_version=int(batch_id),
            )
            pairs.append((v1, v2))

        q = (
            read_documents_stream(spark, stage, max_files_per_trigger=1)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        if not pairs:
            return spark.createDataFrame(
                [],
                "source string, n_docs long, sum_chars long, "
                "exactly_once boolean, replays_skipped boolean",
            )
        exactly_once = len(versions(tdir)) == len(pairs)
        replays_skipped = all(a == b for a, b in pairs)
        return materialize(
            read_version(spark, tdir)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .withColumn("exactly_once", F.lit(exactly_once))
            .withColumn("replays_skipped", F.lit(replays_skipped))
        )


SQL_STREAMING_EXACTLY_ONCE_INGEST = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       TRUE AS exactly_once, TRUE AS replays_skipped
FROM documents GROUP BY source
"""


SQL_STREAMING_QUARANTINE_INGEST = """
WITH lab AS (
  SELECT doc_id, CONCAT_WS(',',
    CASE WHEN doc_id % 13 = 0 THEN 'text_null' END,
    CASE WHEN doc_id % 17 = 0 AND -n_chars < 0
         THEN 'n_chars_out_of_range' END) AS labels
  FROM documents
)
SELECT CASE WHEN labels = '' THEN 'valid' ELSE labels END AS bucket,
       COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       TRUE AS multi_batch, TRUE AS metrics_consistent,
       TRUE AS labels_intact
FROM lab GROUP BY bucket
"""


def _sql_streaming_curated_ingest() -> str:
    from .queries import SQL_GOPHER_REPETITION

    return f"""
SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars,
       TRUE AS multi_batch, TRUE AS pruned, TRUE AS chained
FROM documents d JOIN ({SQL_GOPHER_REPETITION}) rep USING (doc_id)
WHERE rep.repetition_pass AND d.doc_id BETWEEN 0 AND 119
GROUP BY d.source
"""


def q_versioned_index_compaction(spark, sf):
    """The chained Bloom index's FULL LIFECYCLE under one hard oracle:
    build → chain → compact → re-chain → pruned probe, with a
    non-default tuned geometry that must survive every phase.

    Eleven commits at the lake's chain limit of 8 links: v1 holds the
    ``event_id % 6 = 0`` rows and declares the index with
    ``write_bloom_index`` at m_bits=2^20, k=5 (NOT the library default,
    so any phase that silently falls back to defaults is observable);
    ten appends follow, one per other residue of ``event_id % 12``.
    v2–v9 chain incrementally (chain=[1], [1,2], … [1..8]); v10's
    append would chain 9 links > 8 → COMPACTION: a full rebuild whose
    recorded chain resets to [] and whose geometry must equal the
    RECORDED tuning, not defaults (sinks/versioned.py
    maintain_bloom_index's compaction branch); v11 appends again and
    must chain onto the compacted v10.

    Four metadata literals pin each phase (all oracle-pinned TRUE):
    ``compacted`` (v10's recorded chain is []), ``chained_after``
    (v11's recorded chain is exactly [10]), ``geometry_kept`` (v10 AND
    v11 record the tuned (m_bits, k)), and ``pruned`` (the final keys=
    probe reads fewer files than the manifest lists — the probe keys
    all live in v1's commit, so the post-compaction index must still
    skip other commits' files). The aggregate itself is computed off
    the pruned read, so pruning that dropped a qualifying file would
    also fail the value hash. m_bits=2^20 keeps the per-file false-
    positive rate low even at the 100× audit's ~10^5 rows/file (fill
    ≈ 0.33, fp ≈ 0.33^5) — the literal is scale-stable, not tuned to
    sf0.01."""
    from .sinks.versioned import (
        index_params,
        read_version_pruned,
        versions,
        write_bloom_index,
        write_version,
    )

    e = _t(spark, sf, "events").select("event_id", "event_type", "user_id")
    geo = (1 << 20, 5)
    with scratch_dir("q_vidx_compact_") as d:
        t = os.path.join(d, "events_v")
        write_version(
            spark, e.filter(F.col("event_id") % 6 == 0).repartition(2), t
        )
        write_bloom_index(spark, t, "event_id", m_bits=geo[0], k=geo[1])
        for r in (1, 2, 3, 4, 5, 7, 8, 9, 10, 11):
            write_version(
                spark,
                e.filter(F.col("event_id") % 12 == r).repartition(2),
                t,
                mode="append",
            )
        assert len(versions(t)) == 11
        p10 = index_params(t, "event_id", version=10)
        p11 = index_params(t, "event_id", version=11)
        compacted = p10 is not None and p10["chain"] == []
        chained_after = p11 is not None and [int(c) for c in p11["chain"]] == [10]
        geometry_kept = all(
            p is not None and (int(p["m_bits"]), int(p["k"])) == geo
            for p in (p10, p11)
        )
        probe_keys = list(range(0, 120, 6))  # all ≡ 0 (mod 6): v1's commit
        df, info = read_version_pruned(spark, t, keys={"event_id": probe_keys})
        return materialize(
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").alias("sum_id"),
                F.sum("user_id").alias("sum_user"),
            )
            .withColumn("compacted", F.lit(compacted))
            .withColumn("chained_after", F.lit(chained_after))
            .withColumn("geometry_kept", F.lit(geometry_kept))
            .withColumn(
                "pruned", F.lit(info["files_read"] < info["files_total"])
            )
        )


SQL_VERSIONED_INDEX_COMPACTION = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       TRUE AS compacted, TRUE AS chained_after,
       TRUE AS geometry_kept, TRUE AS pruned
FROM events
WHERE event_id % 6 = 0 AND event_id BETWEEN 0 AND 119
GROUP BY event_type
"""


def q_versioned_tag_read(spark, sf):
    """Named snapshot tags on versioned tables (the Iceberg ref
    pattern), end-to-end under one hard oracle: commit v1, TAG it
    ('baseline'), overwrite twice (v2/v3 destroy and replace the
    content), vacuum(keep_last=1) — and the tagged v1 must still read
    back bit-identical by NAME while v2's manifest is gone. Literals:
    ``tag_survived_vacuum`` (the tag resolves and v1's manifest still
    exists after a vacuum whose window excludes it) and ``v2_dropped``
    (the untagged out-of-window version was actually reclaimed — the
    retention exception is surgical, not vacuum silently disabled).
    The aggregate is computed off the tag read, so any data-file loss
    under the tagged version also fails the value hash."""
    from .sinks.versioned import (
        read_version,
        tag_version,
        vacuum,
        versions,
        write_version,
    )

    e = _t(spark, sf, "events").select("event_id", "event_type", "user_id")
    with scratch_dir("q_vtag_") as d:
        t = os.path.join(d, "events_v")
        write_version(spark, e.repartition(2), t)
        tag_version(t, "baseline")
        # two destructive overwrites: latest no longer resembles v1
        write_version(spark, e.filter(F.col("event_id") % 2 == 0), t)
        write_version(spark, e.filter(F.col("event_id") % 5 == 0), t)
        res = vacuum(t, keep_last=1)
        live = {v["version"] for v in versions(t)}
        tag_survived = 1 in live
        v2_dropped = 2 not in live and res["versions_dropped"] >= 1
        df = read_version(spark, t, tag="baseline")
        return materialize(
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").alias("sum_id"),
                F.sum("user_id").alias("sum_user"),
            )
            .withColumn("tag_survived_vacuum", F.lit(tag_survived))
            .withColumn("v2_dropped", F.lit(v2_dropped))
        )


SQL_VERSIONED_TAG_READ = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       TRUE AS tag_survived_vacuum, TRUE AS v2_dropped
FROM events
GROUP BY event_type
"""


def q_versioned_schema_evolution(spark, sf):
    """Schema-on-write + explicit evolution on versioned tables under
    one hard oracle: v1 commits (event_id, event_type, user_id); v2
    appends the odd half WITH a new ``flagged`` column
    (``merge_schema=True`` — without it the commit is refused; before
    this round the column silently vanished on read). The latest read
    carries the union schema with NULL ``flagged`` for v1's carried
    files — pinned by ``n_flagged`` (true flags, odd rows only) and
    ``n_null_flag`` (exactly the even rows) per group, so both the
    union schema AND the NULL-fill semantics are value-hashed. The
    ``v1_schema_stable`` literal pins time travel: version 1 still
    reads with ITS OWN recorded schema, no phantom column."""
    from .sinks.versioned import read_version, write_version

    e = _t(spark, sf, "events").select("event_id", "event_type", "user_id")
    with scratch_dir("q_vschema_") as d:
        t = os.path.join(d, "events_v")
        write_version(spark, e.filter(F.col("event_id") % 2 == 0), t)
        write_version(
            spark,
            e.filter(F.col("event_id") % 2 == 1).withColumn(
                "flagged", F.col("user_id") % 7 == 0
            ),
            t,
            mode="append",
            merge_schema=True,
        )
        v1_stable = read_version(spark, t, version=1).columns == [
            "event_id",
            "event_type",
            "user_id",
        ]
        return materialize(
            read_version(spark, t)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").alias("sum_id"),
                F.count(F.when(F.col("flagged"), 1)).alias("n_flagged"),
                F.count(F.when(F.col("flagged").isNull(), 1)).alias(
                    "n_null_flag"
                ),
            )
            .withColumn("v1_schema_stable", F.lit(v1_stable))
        )


SQL_VERSIONED_SCHEMA_EVOLUTION = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(COUNT(*) FILTER (event_id % 2 = 1 AND user_id % 7 = 0) AS BIGINT)
         AS n_flagged,
       CAST(COUNT(*) FILTER (event_id % 2 = 0) AS BIGINT) AS n_null_flag,
       TRUE AS v1_schema_stable
FROM events
GROUP BY event_type
"""


def q_corpus_manifest(spark, sf):
    """The curation funnel's END PRODUCT, composed from the tiers this
    engine already oracles individually: a document survives into the
    training-set manifest iff it (1) is the kept representative under
    MinHash near-dedup (near_dedup_keep), (2) passes the Gopher
    repetition screens, (3) passes the corpus-appropriate static gates
    (alpha-word + mean-word-length — the full stopword gate is
    vocabulary-specific), and (4) covers ≥ 50% of its bigrams in the
    src0 reference LM. Every input tier is individually HARD-oracled;
    this entry locks their COMPOSITION — joins, null handling for docs
    the LM cannot score, and the conjunctive keep rule."""
    from pyspark.sql import functions as F

    from .queries import q_gopher_quality, q_gopher_repetition
    from .queries_ext import q_near_dedup_keep

    keep = q_near_dedup_keep(spark, sf)
    g = q_gopher_quality(spark, sf).select(
        "doc_id", "alpha_word_ok", "mean_word_len_ok"
    )
    r = q_gopher_repetition(spark, sf).select("doc_id", "repetition_pass")
    lm = q_lm_quality(spark, sf).select("doc_id", "coverage_pm")
    return (
        keep.join(g, "doc_id")
        .join(r, "doc_id")
        .join(lm, "doc_id", "left")
        .filter(
            F.col("repetition_pass")
            & F.col("alpha_word_ok")
            & F.col("mean_word_len_ok")
            & (F.coalesce(F.col("coverage_pm"), F.lit(0)) >= 500)
        )
        .select("doc_id", "source", "n_chars")
    )


def _sql_corpus_manifest() -> str:
    """Composed oracle: each tier's standalone SQL nests as a
    parenthesized subquery (their internal WITH clauses stay scoped),
    then the same joins + conjunctive keep rule as the Spark side."""
    from .queries import SQL_GOPHER_QUALITY, SQL_GOPHER_REPETITION
    from .queries_ext import SQL_NEAR_DEDUP_KEEP

    return f"""
SELECT k.doc_id, k.source, k.n_chars
FROM ({SQL_NEAR_DEDUP_KEEP}) k
JOIN ({SQL_GOPHER_QUALITY}) g USING (doc_id)
JOIN ({SQL_GOPHER_REPETITION}) r USING (doc_id)
LEFT JOIN ({SQL_LM_QUALITY}) l USING (doc_id)
WHERE r.repetition_pass AND g.alpha_word_ok AND g.mean_word_len_ok
  AND COALESCE(l.coverage_pm, 0) >= 500
"""


def q_versioned_branch_publish(spark, sf):
    """Branch refs + write-audit-publish on versioned tables
    (sinks/versioned.py create_branch/publish_branch), the full
    lifecycle under one hard oracle: main v1 commits the even events;
    a 'wap' branch forks (metadata-only) and stages the odd half as a
    branch append; main must still read EXACTLY v1 while staged; the
    publish fast-forwards main to the branch head as one atomic
    metadata commit; a second branch that diverges from main (main
    advances under it) must be REFUSED with CommitConflict. Literals
    pin each step: ``fork_metadata_only`` (create_branch staged zero
    data files), ``staged_invisible`` (main row count unchanged while
    the branch held the odd half), ``publish_is_branch_head`` (the
    published version's count equals the branch head's), and
    ``ff_refused`` (the diverged publish raised). The aggregate is
    computed off the PUBLISHED snapshot read, so the value hash covers
    the promoted data itself."""
    import glob as _glob

    from .sinks.versioned import (
        CommitConflict,
        create_branch,
        publish_branch,
        read_version,
        write_version,
    )

    e = _t(spark, sf, "events").select("event_id", "event_type", "user_id")
    even = e.filter(F.col("event_id") % 2 == 0)
    odd = e.filter(F.col("event_id") % 2 == 1)
    with scratch_dir("q_vbranch_") as d:
        t = os.path.join(d, "events_v")
        write_version(spark, even.repartition(2), t)
        n_even = read_version(spark, t).count()

        def _files():
            return set(_glob.glob(os.path.join(t, "data", "*", "*.parquet")))

        before = _files()
        create_branch(t, "wap")
        fork_metadata_only = _files() == before
        write_version(spark, odd.repartition(2), t, mode="append", branch="wap")
        staged_invisible = read_version(spark, t).count() == n_even
        n_head = read_version(spark, t, branch="wap").count()
        v_pub = publish_branch(t, "wap")
        published = read_version(spark, t, version=v_pub)
        publish_is_branch_head = published.count() == n_head
        # divergence arm: branch forks, then main advances past it
        create_branch(t, "late")
        write_version(
            spark,
            e.filter(F.col("event_id") % 97 == 0),
            t,
            mode="append",
            branch="late",
        )
        write_version(
            spark, e.filter(F.col("event_id") % 101 == 0), t, mode="append"
        )
        try:
            publish_branch(t, "late")
            ff_refused = False
        except CommitConflict:
            ff_refused = True
        return materialize(
            published.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").alias("sum_id"),
                F.sum("user_id").alias("sum_user"),
            )
            .withColumn("fork_metadata_only", F.lit(fork_metadata_only))
            .withColumn("staged_invisible", F.lit(staged_invisible))
            .withColumn("publish_is_branch_head", F.lit(publish_is_branch_head))
            .withColumn("ff_refused", F.lit(ff_refused))
        )


SQL_VERSIONED_BRANCH_PUBLISH = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       TRUE AS fork_metadata_only, TRUE AS staged_invisible,
       TRUE AS publish_is_branch_head, TRUE AS ff_refused
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# ExactSubstr dedup (operators/text.py duplicated_spans / exact_substr_scrub)
# ---------------------------------------------------------------------------


def q_exact_substr_spans(spark, sf):
    """N1/N2: maximal cross-document duplicated 8-token spans (Lee et
    al. 2022 ExactSubstr, span-extraction half; operators/text.py
    duplicated_spans). dup_span_stats counts the duplicated windows;
    this entry pins the actual merge — the oracle replays the window
    hashing, the ≥2-distinct-doc set, AND the gaps-and-islands merge
    (LAG + running SUM + per-island MIN/MAX), so span boundaries are
    bit-exact, not just span counts."""
    from .operators.text import duplicated_spans

    return duplicated_spans(_t(spark, sf, "documents"))


# Shared oracle prefix: duplicated 8-token window instances merged into
# maximal spans (same CTE chain feeds both the spans and scrub oracles).
_SQL_EXACT_SUBSTR_PREFIX = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
wins AS (
  SELECT doc_id, i AS pos, md5(array_to_string(t[i + 1 : i + 8], ' ')) AS h
  FROM toks, UNNEST(range(0, len(t) - 8 + 1)) AS u(i)
  WHERE len(t) >= 8
),
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
m AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup d USING (h)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
              THEN 1 ELSE 0 END AS brk
  FROM m
),
isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM g
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
  FROM isl GROUP BY doc_id, island
)
"""

SQL_EXACT_SUBSTR_SPANS = (
    _SQL_EXACT_SUBSTR_PREFIX
    + """
SELECT doc_id, span_start, span_end,
       span_end - span_start + 1 AS span_tokens
FROM spans
"""
)


def q_exact_substr_scrub(spark, sf):
    """N1/N2: ExactSubstr dedup APPLIED (Lee et al. 2022 §4.1 — cut
    every maximal duplicated span from every occurrence;
    operators/text.py exact_substr_scrub). The oracle rebuilds the
    scrubbed text token-by-token (position anti-join against the span
    intervals + ordered string_agg), so the returned clean_text — not
    just the removal counts — is value-hashed against DuckDB."""
    from .operators.text import exact_substr_scrub

    return exact_substr_scrub(_t(spark, sf, "documents"))


SQL_EXACT_SUBSTR_SCRUB = (
    _SQL_EXACT_SUBSTR_PREFIX
    + """,
tok_pos AS (
  SELECT doc_id, t[i + 1] AS tok, i AS pos
  FROM toks, UNNEST(range(0, len(t))) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.tok, tp.pos
  FROM tok_pos tp
  LEFT JOIN spans sp
    ON tp.doc_id = sp.doc_id AND tp.pos BETWEEN sp.span_start AND sp.span_end
  WHERE sp.span_start IS NULL
)
SELECT d.doc_id,
       len(d.t) AS n_tokens,
       len(d.t) - COUNT(k.pos) AS n_removed,
       COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
FROM toks d
LEFT JOIN kept k USING (doc_id)
GROUP BY d.doc_id, len(d.t)
"""
)


# ---------------------------------------------------------------------------
# partition columns / shallow clone / FSCK / optimistic concurrency
# (sinks/versioned.py write_version partition_by, clone_table,
#  verify_table, _commit rebase loop)
# ---------------------------------------------------------------------------


def q_versioned_partition_prune(spark, sf):
    """Hive-style partition columns on versioned tables (write_version
    ``partition_by`` — the Delta/Iceberg partition-column pattern): the
    events table commits in two partitioned appends, takes a MOR delete
    (DV sidecar, no rewrite — the partition map must survive untouched),
    then an equality probe on the STRING partition column prunes from
    the manifest's exact per-file value map alone. This is the skipping
    tier range stats can't provide (string envelopes span the domain)
    and Bloom shouldn't (false-positive probes): exact, and ZERO I/O.

    Literals (oracle-pinned TRUE): ``zero_io_prune`` — files were
    skipped with no footer reads (``footer_files == 0`` while
    ``partition_skipped > 0``: manifest-only planning); ``exact_map`` —
    partition pruning alone explains the scan (files_read +
    partition_skipped == files_total: no file needed a conservative
    keep). The aggregate is computed off the pruned+DV read, so a map
    that skipped a live file would fail the value hash, not just the
    literals."""
    from .sinks.versioned import (
        delete_version,
        read_version_pruned,
        write_version,
    )

    e = _t(spark, sf, "events").select("event_id", "event_type", "user_id")
    with scratch_dir("q_vpart_") as d:
        t = os.path.join(d, "events_v")
        write_version(
            spark,
            e.filter(F.col("event_id") % 2 == 0).repartition("event_type"),
            t,
            partition_by=["event_type"],
            stats_cols=["event_id"],
        )
        write_version(
            spark,
            e.filter(F.col("event_id") % 2 == 1).repartition("event_type"),
            t,
            mode="append",  # inherits the partition layout
        )
        delete_version(spark, t, F.col("event_id") % 11 == 0, mode="mor")
        df, info = read_version_pruned(
            spark, t, keys={"event_type": ["click", "purchase"]}
        )
        zero_io_prune = (
            info["footer_files"] == 0 and info["partition_skipped"] > 0
        )
        exact_map = (
            info["files_read"] + info["partition_skipped"]
            == info["files_total"]
        )
        return materialize(
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").cast("long").alias("sum_id"),
                F.sum("user_id").cast("long").alias("sum_user"),
            )
            .withColumn("zero_io_prune", F.lit(zero_io_prune))
            .withColumn("exact_map", F.lit(exact_map))
        )


SQL_VERSIONED_PARTITION_PRUNE = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       TRUE AS zero_io_prune, TRUE AS exact_map
FROM events
WHERE event_type IN ('click', 'purchase') AND event_id % 11 <> 0
GROUP BY event_type
"""


def q_versioned_clone(spark, sf):
    """SHALLOW CLONE (sinks/versioned.py clone_table — Delta's ``CREATE
    TABLE ... SHALLOW CLONE``): fork the orders table by reference (one
    manifest write, zero bytes copied), then let the clone diverge — a
    COW delete of key≡0 (mod 3) and an append of negated-key copies of
    the key≡0 (mod 13) rows — while the source must stay byte-for-byte
    untouched. The query reads BOTH heads; the oracle replays both
    states from the source rows.

    Literals (oracle-pinned TRUE): ``clone_zero_copy`` — the clone
    commit wrote zero data files and its v1 manifest lists exactly the
    source's files (fork cost is O(manifest) at any table size);
    ``src_isolated`` — after the clone's DML the source chain is still
    one version with the full row count (divergence never leaks back).
    """
    from .sinks.versioned import (
        load_manifest,
        clone_table,
        delete_version,
        read_version,
        versions as table_versions,
        write_version,
    )

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("q_vclone_") as d:
        src, dst = os.path.join(d, "src"), os.path.join(d, "dst")
        write_version(spark, o.repartition(4), src, stats_cols=["o_orderkey"])
        r = clone_table(src, dst)
        clone_zero_copy = (
            r["data_files_written"] == 0
            and load_manifest(dst, 1)["files"]
            == load_manifest(src, 1)["files"]
        )
        delete_version(spark, dst, F.col("o_orderkey") % 3 == 0)
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 13 == 0).select(
                (-F.col("o_orderkey") - 1).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            ),
            dst,
            mode="append",
        )
        n_src = o.count()
        src_isolated = (
            len(table_versions(src)) == 1
            and read_version(spark, src).count() == n_src
        )

        def agg(df, tag):
            return df.groupBy("o_orderstatus").agg(
                F.lit(tag).alias("snapshot"),
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )

        return materialize(
            agg(read_version(spark, src), "src")
            .unionByName(agg(read_version(spark, dst), "clone"))
            .select("snapshot", "o_orderstatus", "n", "key_sum", "cents")
            .withColumn("clone_zero_copy", F.lit(clone_zero_copy))
            .withColumn("src_isolated", F.lit(src_isolated))
        )


SQL_VERSIONED_CLONE = """
WITH neg AS (
  SELECT -o_orderkey - 1 AS o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
), clone AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderkey % 3 <> 0
  UNION ALL SELECT * FROM neg
), states AS (
  SELECT 'src' AS snapshot, o_orderkey, o_orderstatus, o_totalprice
  FROM orders
  UNION ALL SELECT 'clone', * FROM clone
)
SELECT snapshot, o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS clone_zero_copy, TRUE AS src_isolated
FROM states GROUP BY snapshot, o_orderstatus
"""


def q_table_fsck(spark, sf):
    """FSCK on versioned tables (sinks/versioned.py verify_table): a
    table that took every metadata-bearing commit type — partitioned
    write with recorded stats and an idempotent-txn marker, an
    inherited-layout append, a MOR delete — must come back fully green
    from a DEEP audit (row count vs manifest, recorded stats vs fresh
    footers, partition purity vs actual file contents, txn
    monotonicity); and a deliberately-corrupted second table (a data
    file removed out-of-band) must be DETECTED, not silently pruned
    around. Literals: ``clean_ok`` (all checks green), ``n_checks``
    (the deep audit ran all 9 checks — pins that nothing was skipped),
    ``corruption_detected`` (the broken table failed, and failed on
    ``files_exist`` specifically). The aggregate reads the audited
    head, so the audit's subject is also value-hashed."""
    from .sinks.versioned import (
        delete_version,
        load_manifest,
        verify_table,
        write_version,
    )

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("q_fsck_") as d:
        t1, t2 = os.path.join(d, "clean"), os.path.join(d, "broken")
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0).repartition(
                "o_orderstatus"
            ),
            t1,
            partition_by=["o_orderstatus"],
            stats_cols=["o_orderkey"],
            txn_app="loader",
            txn_version=1,
        )
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(
                "o_orderstatus"
            ),
            t1,
            mode="append",
            txn_app="loader",
            txn_version=2,
        )
        delete_version(spark, t1, F.col("o_orderkey") % 7 == 0, mode="mor")
        rep = verify_table(spark, t1, deep=True)
        clean_ok = rep["ok"]
        n_checks = len(rep["checks"])
        n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
        write_version(spark, n.repartition(2), t2)
        m2 = load_manifest(t2, None)
        if m2["files"]:
            os.remove(m2["files"][0])
        rep2 = verify_table(spark, t2, deep=True)
        corruption_detected = (
            not rep2["ok"] and not rep2["checks"]["files_exist"]["ok"]
        )
        from .sinks.versioned import read_version

        return materialize(
            read_version(spark, t1)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn("clean_ok", F.lit(clean_ok))
            .withColumn("n_checks", F.lit(n_checks).cast("int"))
            .withColumn("corruption_detected", F.lit(corruption_detected))
        )


SQL_TABLE_FSCK = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS clean_ok, CAST(9 AS INTEGER) AS n_checks,
       TRUE AS corruption_detected
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY o_orderstatus
"""


def q_versioned_concurrent(spark, sf):
    """Optimistic concurrency on versioned tables (sinks/versioned.py
    ``_commit``): the commit point is an atomic ``os.link`` — two
    RACING appends (real threads, one table) must BOTH land, the loser
    rebasing onto the winner's chain instead of overwriting it (no lost
    update, no version gap); and a copy-on-write delete computed
    against a STALE snapshot must be REFUSED with CommitConflict and
    leave nothing behind. This is the Delta/Iceberg writer contract:
    blind appends serialize automatically, conflicting rewrites error
    to the caller.

    Literals (oracle-pinned TRUE): ``both_landed`` — after the threaded
    race the chain is exactly v1..v3 and the head holds every row from
    both writers (the rebase loop preserved the loser's rows);
    ``stale_cow_refused`` — the v1-based delete raised CommitConflict;
    ``no_partial`` — the refused delete committed nothing (version
    count and row count unchanged). The aggregate reads the post-race
    head, so a lost update fails the value hash too."""
    import threading

    from .sinks.versioned import (
        CommitConflict,
        delete_version,
        read_version,
        versions as table_versions,
        write_version,
    )

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("q_vconc_") as d:
        t = os.path.join(d, "orders_v")
        write_version(
            spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), t
        )
        errs: list[Exception] = []

        def appender(mod: int) -> None:
            try:
                write_version(
                    spark,
                    o.filter(F.col("o_orderkey") % 4 == mod).repartition(2),
                    t,
                    mode="append",
                )
            except Exception as e:  # noqa: BLE001 — surfaced via literal
                errs.append(e)

        threads = [
            threading.Thread(target=appender, args=(m,)) for m in (1, 3)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        head = read_version(spark, t)
        n_all = o.count()
        both_landed = (
            not errs
            and [v["version"] for v in table_versions(t)] == [1, 2, 3]
            and head.count() == n_all
        )
        try:
            delete_version(
                spark, t, F.col("o_orderkey") % 5 == 0, base_version=1
            )
            stale_cow_refused = False
        except CommitConflict:
            stale_cow_refused = True
        no_partial = (
            len(table_versions(t)) == 3
            and read_version(spark, t).count() == n_all
        )
        return materialize(
            head.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn("both_landed", F.lit(both_landed))
            .withColumn("stale_cow_refused", F.lit(stale_cow_refused))
            .withColumn("no_partial", F.lit(no_partial))
        )


SQL_VERSIONED_CONCURRENT = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS both_landed, TRUE AS stale_cow_refused, TRUE AS no_partial
FROM orders GROUP BY o_orderstatus
"""


def q_versioned_scoped_dml(spark, sf):
    """Partition-scoped DML (sinks/versioned.py delete_version /
    update_version ``partition_scope`` — how Delta executes ``DELETE
    WHERE dt = ...``): on a partitioned events table, a scope-only COW
    delete drops the 'view' partition OPENING ONLY ITS FILES (the scope
    is ANDed into the predicate, so the skipping can never change which
    rows qualify — out-of-scope files are carried unopened), then a
    scoped MOR update zeroes 'click' values scanning only that
    partition and rewriting NOTHING. At 100 TB this is the difference
    between a partition-sized scan and a table-sized one for every
    GDPR/compaction/backfill DML.

    Literals (oracle-pinned TRUE): ``delete_scoped`` /
    ``update_scoped`` — each DML's ``files_scanned`` was a strict
    subset of the snapshot; ``mor_zero_rewrite`` — the scoped update
    rewrote zero files. The aggregate reads the final head, so a scope
    that skipped a file it shouldn't have fails the value hash."""
    from .sinks.versioned import (
        delete_version,
        load_manifest,
        read_version,
        update_version,
        write_version,
    )

    e = _t(spark, sf, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    with scratch_dir("q_vscope_") as d:
        t = os.path.join(d, "events_v")
        write_version(
            spark,
            e.repartition("event_type"),
            t,
            partition_by=["event_type"],
        )
        n1 = len(load_manifest(t, 1)["files"])
        r1 = delete_version(
            spark, t, partition_scope={"event_type": ["view"]}
        )
        delete_scoped = 0 < r1["files_scanned"] < n1
        n2 = len(load_manifest(t, None)["files"])
        r2 = update_version(
            spark,
            t,
            None,
            {"value": F.lit(0.0)},
            mode="mor",
            partition_scope={"event_type": ["click"]},
        )
        update_scoped = 0 < r2["files_scanned"] < n2
        mor_zero_rewrite = r2["files_rewritten"] == 0
        return materialize(
            read_version(spark, t)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").cast("long").alias("sum_id"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .withColumn("delete_scoped", F.lit(delete_scoped))
            .withColumn("update_scoped", F.lit(update_scoped))
            .withColumn("mor_zero_rewrite", F.lit(mor_zero_rewrite))
        )


SQL_VERSIONED_SCOPED_DML = """
WITH state AS (
  SELECT event_id, event_type, user_id,
         CASE WHEN event_type = 'click' THEN 0.0 ELSE value END AS value
  FROM events WHERE event_type <> 'view'
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       MIN(value) AS min_value, MAX(value) AS max_value,
       TRUE AS delete_scoped, TRUE AS update_scoped,
       TRUE AS mor_zero_rewrite
FROM state GROUP BY event_type
"""


def q_table_constraints(spark, sf):
    """Table-level CHECK constraints (sinks/versioned.py
    ``check_constraints`` + add_constraint/drop_constraint — Delta
    ``ALTER TABLE ... ADD CONSTRAINT CHECK``): the table records its
    invariants in the manifest and enforces them on EVERY writer's
    append at O(increment) cost (the violation counts ride the same
    single aggregation that counts the staged rows). The script: v1
    commits the even orders under a positivity CHECK; a poisoned
    append is REFUSED with nothing staged; the odd half lands clean;
    ``add_constraint`` validates ALL history before growing the
    contract, and refuses when history violates; the grown contract is
    enforced on the next append; a deep FSCK confirms the head honors
    every recorded constraint.

    Literals (oracle-pinned TRUE): ``violation_refused`` +
    ``nothing_staged`` (the poisoned append raised and left zero
    orphan bytes and no version), ``bad_add_refused`` (history
    validation works), ``grown_enforced`` (the added constraint
    rejects the next bad append), ``fsck_holds``. The aggregate reads
    the final head — exactly the clean union — so enforcement that
    let a poisoned row slip fails the value hash too."""
    import glob as _glob

    from .sinks.versioned import (
        add_constraint,
        read_version,
        versions as table_versions,
        write_version,
        verify_table,
    )

    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    with scratch_dir("q_tcc_") as d:
        t = os.path.join(d, "orders_v")
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0).repartition(2),
            t,
            check_constraints={"price_pos": "o_totalprice > 0"},
        )
        staged = set(_glob.glob(os.path.join(t, "data", "*", "*.parquet")))
        try:
            write_version(
                spark,
                o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                    "o_totalprice", -F.col("o_totalprice")
                ),
                t,
                mode="append",
            )
            violation_refused = False
        except ValueError:
            violation_refused = True
        nothing_staged = (
            set(_glob.glob(os.path.join(t, "data", "*", "*.parquet")))
            == staged
            and len(table_versions(t)) == 1
        )
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
            t,
            mode="append",
        )
        add_constraint(
            spark, t, "status_valid", "o_orderstatus IN ('F','O','P')"
        )
        try:
            add_constraint(spark, t, "impossible", "o_orderkey < 0")
            bad_add_refused = False
        except ValueError:
            bad_add_refused = True
        try:
            write_version(
                spark,
                o.limit(2).withColumn("o_orderstatus", F.lit("X")),
                t,
                mode="append",
            )
            grown_enforced = False
        except ValueError:
            grown_enforced = True
        rep = verify_table(spark, t, deep=True)
        fsck_holds = rep["ok"] and rep["checks"]["constraints_hold"]["ok"]
        return materialize(
            read_version(spark, t)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn("violation_refused", F.lit(violation_refused))
            .withColumn("nothing_staged", F.lit(nothing_staged))
            .withColumn("bad_add_refused", F.lit(bad_add_refused))
            .withColumn("grown_enforced", F.lit(grown_enforced))
            .withColumn("fsck_holds", F.lit(fsck_holds))
        )


SQL_TABLE_CONSTRAINTS = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS violation_refused, TRUE AS nothing_staged,
       TRUE AS bad_add_refused, TRUE AS grown_enforced, TRUE AS fsck_holds
FROM orders GROUP BY o_orderstatus
"""


def q_versioned_replace_where(spark, sf):
    """Dynamic partition overwrite (sinks/versioned.py
    overwrite_partitions — Delta ``replaceWhere`` / Hive ``INSERT
    OVERWRITE PARTITION``, the daily-backfill pattern): the click
    partition is atomically replaced by a transformed copy (values
    doubled) in ONE commit that drops the scoped files WITHOUT OPENING
    them, carries every other partition BY FILE IDENTITY, and refuses
    incoming rows outside the declared scope (the guard that turns a
    mis-scoped backfill into a loud error instead of silent row loss).

    Literals (oracle-pinned TRUE): ``swap_scoped`` — at least one file
    was replaced, zero rewritten, and carried+replaced covers the base
    exactly; ``carried_identity`` — every non-click file of v1 is in
    v2 verbatim (the backfill cost O(replaced partition), not
    O(table)); ``out_of_scope_refused`` — a write whose rows spill
    past its declared scope raised before staging anything. The
    aggregate reads the final head: original non-click rows ∪ the
    doubled click rows."""
    from .sinks.versioned import (
        load_manifest,
        overwrite_partitions,
        read_version,
        write_version,
    )

    e = _t(spark, sf, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    with scratch_dir("q_vrw_") as d:
        t = os.path.join(d, "events_v")
        write_version(
            spark,
            e.repartition("event_type"),
            t,
            partition_by=["event_type"],
        )
        m1 = load_manifest(t, 1)
        backfill = (
            e.filter(F.col("event_type") == "click")
            .withColumn("value", F.col("value") * 2)
            .repartition("event_type")
        )
        r = overwrite_partitions(spark, backfill, t)
        swap_scoped = (
            r["files_replaced"] >= 1
            and r["files_rewritten"] == 0
            and r["files_replaced"] + r["files_carried"] == len(m1["files"])
        )
        m2 = load_manifest(t, 2)
        click_files = {
            f
            for f in m1["files"]
            if m1["partitions"][f]["event_type"] == "click"
        }
        carried_identity = (
            set(m1["files"]) - click_files <= set(m2["files"])
        )
        try:
            overwrite_partitions(
                spark,
                e.filter(F.col("event_type") != "view"),
                t,
                partition_scope={"event_type": ["view"]},
            )
            out_of_scope_refused = False
        except ValueError:
            out_of_scope_refused = True
        return materialize(
            read_version(spark, t)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").cast("long").alias("sum_id"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .withColumn("swap_scoped", F.lit(swap_scoped))
            .withColumn("carried_identity", F.lit(carried_identity))
            .withColumn("out_of_scope_refused", F.lit(out_of_scope_refused))
        )


SQL_VERSIONED_REPLACE_WHERE = """
WITH state AS (
  SELECT event_id, event_type, user_id,
         CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       MIN(value) AS min_value, MAX(value) AS max_value,
       TRUE AS swap_scoped, TRUE AS carried_identity,
       TRUE AS out_of_scope_refused
FROM state GROUP BY event_type
"""


def q_versioned_generated_partition(spark, sf):
    """Generated columns + hidden partitioning (sinks/versioned.py
    ``generated_cols`` — Delta generated columns / Iceberg's
    ``days(ts)`` partition transform): the table records ``dt =
    CAST(date_trunc('day', ts) AS DATE)`` and DERIVES it on every
    commit whose frame lacks it — so the daily layout cannot be
    forgotten by any writer — while a frame that carries its own dt is
    VALIDATED against the derivation (a wrong dt would silently
    corrupt partition pruning, so it refuses the commit). The probe
    then date-prunes from the manifest's exact map with zero I/O.

    Literals (oracle-pinned TRUE): ``derived_inherited`` — the
    no-params append inherited both the derivation and the layout, and
    every file is mapped; ``zero_io_prune`` — the date probe skipped
    files with zero footer reads; ``mismatch_refused`` — an append
    carrying a wrong precomputed dt raised. The aggregate reads the
    pruned minimum-date slice; the oracle recomputes the same date
    arithmetic from raw ts."""
    from .sinks.versioned import (
        load_manifest,
        read_version_pruned,
        write_version,
    )

    GEN = {"dt": "CAST(date_trunc('day', ts) AS DATE)"}
    e = _t(spark, sf, "events").select(
        "event_id", "ts", "event_type", "user_id"
    )
    with scratch_dir("q_vgen_") as d:
        t = os.path.join(d, "events_v")
        write_version(
            spark,
            e.filter(F.col("event_id") % 2 == 0).repartition(
                F.to_date("ts")
            ),
            t,
            generated_cols=GEN,
            partition_by=["dt"],
        )
        write_version(
            spark,
            e.filter(F.col("event_id") % 2 == 1).repartition(
                F.to_date("ts")
            ),
            t,
            mode="append",  # derivation + layout both inherit
        )
        m = load_manifest(t, 2)
        derived_inherited = m.get("generated_cols") == GEN and set(
            m["partitions"]
        ) == {os.path.realpath(f) for f in m["files"]}
        d0 = e.agg(F.min(F.to_date("ts"))).first()[0]
        df, info = read_version_pruned(spark, t, keys={"dt": [d0]})
        zero_io_prune = (
            info["footer_files"] == 0 and info["partition_skipped"] > 0
        )
        try:
            import datetime

            write_version(
                spark,
                e.limit(5).withColumn(
                    "dt", F.lit(datetime.date(1999, 1, 1))
                ),
                t,
                mode="append",
            )
            mismatch_refused = False
        except ValueError:
            mismatch_refused = True
        return materialize(
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("event_id").cast("long").alias("sum_id"),
                F.sum("user_id").cast("long").alias("sum_user"),
            )
            .withColumn("derived_inherited", F.lit(derived_inherited))
            .withColumn("zero_io_prune", F.lit(zero_io_prune))
            .withColumn("mismatch_refused", F.lit(mismatch_refused))
        )


SQL_VERSIONED_GENERATED_PARTITION = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       TRUE AS derived_inherited, TRUE AS zero_io_prune,
       TRUE AS mismatch_refused
FROM events
WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
GROUP BY event_type
"""


def q_rollup_from_changes(spark, sf):
    """The incremental producer meets the incremental consumer
    (sinks/versioned.py read_changes → operators/rollup.py
    refresh_rollup): events land in a versioned table as three
    append-only commits; after each, a CDF read from the consumer's
    cursor yields exactly the new rows — scanning ONLY the commit's
    files, never the carried ones — and folds them into the
    materialized hourly rollup. The final rollup must equal the
    from-scratch aggregation (the oracle), and ``incremental_scoped``
    pins that every feed read cost O(increment): zero before-side
    scans, after-side scans exactly the appended files. This is the
    materialized-view-maintenance loop a warehouse runs forever — the
    decomposability contract (q_rollup_refresh) composed with the
    manifest-scoped feed."""
    from .operators.rollup import refresh_rollup
    from .sinks.versioned import read_changes, write_version

    e = _t(spark, sf, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    aggs = [
        ("count", "event_id", "n_events"),
        ("min", "value", "min_value"),
        ("max", "value", "max_value"),
    ]
    with scratch_dir("q_rollchg_") as d:
        t, roll = os.path.join(d, "events_v"), os.path.join(d, "rollup")
        cursor = 0
        scoped = []
        for mod in (0, 1, 2):
            v = write_version(
                spark,
                e.filter(F.col("event_id") % 3 == mod).repartition(2),
                t,
                mode="append" if mod else "overwrite",
            )
            info: dict = {}
            inc = (
                read_changes(spark, t, cursor, v, info=info)
                .filter(F.col("_change_type") == "insert")
                .drop("_change_type")
            )
            refresh_rollup(spark, inc, roll, "ts", "hour", ["event_type"], aggs)
            scoped.append(
                info["files_scanned_before"] == 0
                and info["files_scanned_after"]
                == info["files_after"] - info["files_before"]
            )
            cursor = v
        return materialize(
            spark.read.parquet(roll)
            .select(
                "bucket_start", "event_type", "n_events",
                "min_value", "max_value",
            )
            .withColumn("incremental_scoped", F.lit(all(scoped)))
        )


SQL_ROLLUP_FROM_CHANGES = """
SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       COUNT(*) AS n_events, MIN(value) AS min_value,
       MAX(value) AS max_value, TRUE AS incremental_scoped
FROM events GROUP BY 1, 2
"""


def q_table_history(spark, sf):
    """DESCRIBE HISTORY (sinks/versioned.py versions — the audit
    surface a lakehouse operator reads first): a table takes one of
    each commit type — overwrite, append, COW delete, MOR delete — and
    the reported history must carry the right mode label, the right
    row-count bookkeeping at every step (append adds, COW subtracts via
    rewrite, MOR subtracts via DV with no file rewritten), and the DV
    flag flipping only on the MOR commit. The oracle recomputes every
    row count from the source table, so a bookkeeping drift anywhere in
    the commit paths fails the hash."""
    from .sinks.versioned import (
        delete_version,
        load_manifest,
        versions as table_versions,
        write_version,
    )

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    with scratch_dir("q_thist_") as d:
        t = os.path.join(d, "orders_v")
        write_version(
            spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), t
        )
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
            t,
            mode="append",
        )
        delete_version(spark, t, F.col("o_orderkey") % 5 == 0)
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")
        rows = [
            (
                h["version"],
                h["mode"],
                h["n_rows"],
                bool(load_manifest(t, h["version"]).get("dv_files")),
            )
            for h in table_versions(t)
        ]
        return materialize(
            spark.createDataFrame(
                rows, "version int, mode string, n_rows long, has_dv boolean"
            )
        )


SQL_TABLE_HISTORY = """
SELECT CAST(1 AS INTEGER) AS version, 'overwrite' AS mode,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows,
       FALSE AS has_dv
UNION ALL
SELECT 2, 'append', (SELECT COUNT(*) FROM orders), FALSE
UNION ALL
SELECT 3, 'delete',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 5 <> 0), FALSE
UNION ALL
SELECT 4, 'delete_mor',
       (SELECT COUNT(*) FROM orders
        WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0), TRUE
"""


def q_wap_drift_gate(spark, sf):
    """Write-Audit-Publish with a DRIFT AUDIT — the composition the two
    tiers were built for: stage an ingest on a branch
    (sinks/versioned.py create_branch), audit the staged increment
    against the current main head with the exact-TV drift monitor
    (operators/profile.py snapshot_drift), and publish_branch ONLY
    under threshold. Two increments run the gate: a same-distribution
    quarter of the events (passes, publishes, main advances) and a
    poisoned one (values ×5 → mass beyond the reference range, all
    rows 'error') that must stay staged. The audit here scores the
    staged increment frame directly; a production job would read it
    off the branch via read_changes — same rows either way (the
    branch append's added files ARE the increment).

    Hard oracle: the final aggregation covers exactly main ∪ the GOOD
    increment (a wrongly-published bad batch or a wrongly-refused good
    one changes counts and sums), and the two audit scores are
    replayed column-for-column by the same TV arithmetic in SQL — the
    gate's inputs, not just its verdicts, are pinned."""
    from .operators.profile import snapshot_drift
    from .sinks.versioned import (
        create_branch,
        publish_branch,
        read_version,
        write_version,
    )

    threshold = 300
    e = _t(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_cents"),
    )
    base = e.filter(F.col("event_id") % 2 == 0)
    inc_good = e.filter(F.col("event_id") % 4 == 1)
    inc_bad = (
        e.filter(F.col("event_id") % 4 == 3)
        .withColumn("value_cents", F.col("value_cents") * 5)
        .withColumn("event_type", F.lit("error"))
    )
    with scratch_dir("q_wap_drift_") as d:
        t = os.path.join(d, "events_v")
        write_version(spark, base.repartition(2), t)

        def stage_and_audit(name, inc):
            create_branch(t, name)
            write_version(spark, inc.repartition(2), t, mode="append", branch=name)
            drift = snapshot_drift(
                read_version(spark, t).select("value_cents", "event_type"),
                inc.select("value_cents", "event_type"),
                numeric_cols=["value_cents"],
                categorical_cols=["event_type"],
                n_bins=10,
            )
            tv = max(r["tv_pm"] for r in drift.collect())
            if tv <= threshold:
                publish_branch(t, name)
            return tv

        tv_good = stage_and_audit("ingest_good", inc_good)
        tv_bad = stage_and_audit("ingest_bad", inc_bad)
        return materialize(
            read_version(spark, t)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("value_cents").alias("sum_cents"),
                F.sum("event_id").alias("sum_id"),
            )
            .withColumn("tv_good", F.lit(int(tv_good)).cast("long"))
            .withColumn("tv_bad", F.lit(int(tv_bad)).cast("long"))
        )


def _sql_tv_max(ref_where: str, cur_select: str, n_bins: int) -> str:
    """Max-over-columns TV per-mille between two event selections —
    the SQL replay of one snapshot_drift audit (value_cents binned on
    the reference range, event_type categorical)."""
    return f"""
WITH ref AS (SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v, event_type
             FROM events WHERE {ref_where}),
cur AS ({cur_select}),
w AS (SELECT MIN(v) AS lo, (MAX(v) - MIN(v) + {n_bins}) // {n_bins} AS width
      FROM ref),
refb AS (SELECT 'num' AS c,
                CASE WHEN v IS NULL THEN chr(0) || 'null'
                     WHEN v < lo THEN '-1'
                     ELSE CAST(least((v - lo) // width, {n_bins}) AS VARCHAR)
                END AS bin
         FROM ref, w
  UNION ALL SELECT 'cat',
    COALESCE(replace(event_type, chr(0), chr(0) || chr(0)),
             chr(0) || 'null') FROM ref),
curb AS (SELECT 'num' AS c,
                CASE WHEN v IS NULL THEN chr(0) || 'null'
                     WHEN v < lo THEN '-1'
                     ELSE CAST(least((v - lo) // width, {n_bins}) AS VARCHAR)
                END AS bin
         FROM cur, w
  UNION ALL SELECT 'cat',
    COALESCE(replace(event_type, chr(0), chr(0) || chr(0)),
             chr(0) || 'null') FROM cur),
rc AS (SELECT c, bin, COUNT(*) AS rn FROM refb GROUP BY 1, 2),
cc AS (SELECT c, bin, COUNT(*) AS cn FROM curb GROUP BY 1, 2),
bins AS (SELECT c, bin, COALESCE(rn, 0) AS rn, COALESCE(cn, 0) AS cn
         FROM rc FULL OUTER JOIN cc USING (c, bin)),
tot AS (SELECT c, SUM(rn) AS nr, SUM(cn) AS nc FROM bins GROUP BY 1)
SELECT MAX(CAST((500 * t) // (nr * nc) AS BIGINT)) FROM (
  SELECT bins.c, nr, nc, SUM(abs(cn * nr - rn * nc)) AS t
  FROM bins JOIN tot USING (c) GROUP BY 1, 2, 3)"""


def _sql_wap_drift_gate() -> str:
    good_cur = (
        "SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v, event_type "
        "FROM events WHERE event_id % 4 = 1"
    )
    bad_cur = (
        "SELECT 5 * CAST(floor(value*100 + 0.5) AS BIGINT) AS v, "
        "'error' AS event_type FROM events WHERE event_id % 4 = 3"
    )
    tv_good = _sql_tv_max("event_id % 2 = 0", good_cur, 10)
    tv_bad = _sql_tv_max("event_id % 2 = 0 OR event_id % 4 = 1", bad_cur, 10)
    return f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       ({tv_good}
       ) AS tv_good,
       ({tv_bad}
       ) AS tv_bad
FROM events
WHERE event_id % 2 = 0 OR event_id % 4 = 1
GROUP BY event_type
"""


def q_snapshot_drift_events(spark, sf):
    """Distribution-drift monitor between two snapshots
    (operators/profile.py snapshot_drift): the per-ingest promotion
    gate, with TOTAL VARIATION distance in per-mille instead of PSI —
    TV over integer bin counts is exact rational arithmetic
    (DECIMAL-routed cross-multiplication), so the result is
    partition-invariant and replays in SQL to the last digit, where
    PSI's ln is not bit-portable. Numeric columns bin on the REFERENCE
    range with dedicated underflow/overflow bins (new mass outside the
    seen range is precisely what drift must surface); categoricals bin
    by value.

    Scale: one scan per side melts ALL columns into (col, bin) pairs
    (inline array→explode), one groupBy over the bounded cols×bins
    domain, arithmetic on a tiny count table."""
    from .operators.profile import snapshot_drift

    e = _t(spark, sf, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long").alias("value_cents")
    ref = e.filter(F.col("event_id") % 2 == 0).select(cents, "event_type")
    cur = e.filter(F.col("event_id") % 2 == 1).select(cents, "event_type")
    return snapshot_drift(
        ref, cur, numeric_cols=["value_cents"],
        categorical_cols=["event_type"], n_bins=20,
    )


SQL_SNAPSHOT_DRIFT_EVENTS = r"""
WITH ref AS (SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v, event_type
             FROM events WHERE event_id % 2 = 0),
cur AS (SELECT CAST(floor(value*100 + 0.5) AS BIGINT) AS v, event_type
        FROM events WHERE event_id % 2 = 1),
w AS (SELECT MIN(v) AS lo, (MAX(v) - MIN(v) + 20) // 20 AS width FROM ref),
refb AS (
  SELECT 'value_cents' AS col_name,
         CASE WHEN v IS NULL THEN chr(0) || 'null' WHEN v < lo THEN '-1'
              ELSE CAST(least((v - lo) // width, 20) AS VARCHAR) END AS bin
  FROM ref, w
  UNION ALL SELECT 'event_type',
    COALESCE(replace(event_type, chr(0), chr(0) || chr(0)),
             chr(0) || 'null') FROM ref),
curb AS (
  SELECT 'value_cents' AS col_name,
         CASE WHEN v IS NULL THEN chr(0) || 'null' WHEN v < lo THEN '-1'
              ELSE CAST(least((v - lo) // width, 20) AS VARCHAR) END AS bin
  FROM cur, w
  UNION ALL SELECT 'event_type',
    COALESCE(replace(event_type, chr(0), chr(0) || chr(0)),
             chr(0) || 'null') FROM cur),
rc AS (SELECT col_name, bin, COUNT(*) AS ref_n FROM refb GROUP BY 1, 2),
cc AS (SELECT col_name, bin, COUNT(*) AS cur_n FROM curb GROUP BY 1, 2),
bins AS (SELECT col_name, bin, COALESCE(ref_n, 0) AS ref_n,
                COALESCE(cur_n, 0) AS cur_n
         FROM rc FULL OUTER JOIN cc USING (col_name, bin)),
tot AS (SELECT col_name, SUM(ref_n) AS n_ref, SUM(cur_n) AS n_cur
        FROM bins GROUP BY 1),
b AS (SELECT bins.col_name, bin, ref_n, cur_n, n_ref, n_cur,
             abs(cur_n * n_ref - ref_n * n_cur) AS shift,
             ROW_NUMBER() OVER (PARTITION BY bins.col_name
                 ORDER BY abs(cur_n * n_ref - ref_n * n_cur) DESC, bin ASC) AS rk
      FROM bins JOIN tot USING (col_name))
SELECT col_name, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
       CAST((500 * SUM(shift)) // (n_ref * n_cur) AS BIGINT) AS tv_pm,
       MAX(CASE WHEN rk = 1 THEN bin END) AS top_shift_bin
FROM b GROUP BY col_name, n_ref, n_cur
"""


def q_streaming_versioned_changes(spark, sf):
    """The versioned table as a first-class STRUCTURED STREAMING SOURCE
    (sources/versioned_stream.py, Spark 4 Python DataSource API):
    offsets are version numbers checkpointed by the engine, partitions
    are one-executor-task-per-file planned from manifests alone, and
    executors read with pyarrow (added data files → inserts, new DV
    sidecars → merge-on-read deletes) — Arrow batches straight into
    Spark, no per-row Python.

    Shape: v1 appends even orders, v2 appends odd orders, v3
    merge-on-read deletes keys ≡0 mod 7; one stream drains all three
    commits through a PARQUET file sink (a memory sink would collect
    every change row to the driver — fine at sf0.01, maxResultSize
    death at 100×; the file sink keeps delivery executor-side at any
    scale) and the query summarizes per (commit, change_type). The
    oracle replays each commit's exact change set from the orders
    table — a duplicated, dropped or mis-attributed row anywhere in the
    offset/partition/DV pipeline fails the value hash. Checkpoint
    resume, COW refusal, schema evolution, branch tailing and per-file
    partition planning are locked by tests/test_versioned_stream.py."""
    from .sinks.versioned import delete_version, write_version
    from .sources.versioned_stream import read_changes_stream

    with scratch_dir("q_vstream_") as d:
        t = os.path.join(d, "orders_v")
        sink = os.path.join(d, "changes_out")
        ckpt = os.path.join(d, "ckpt")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        write_version(spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), t)
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
            t,
            mode="append",
        )
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")

        q = (
            read_changes_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return materialize(
            spark.read.parquet(sink)
            .groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("sum_key"),
                F.countDistinct("o_custkey").alias("n_cust"),
            )
        )


SQL_STREAMING_VERSIONED_CHANGES = """
SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
       COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       COUNT(DISTINCT o_custkey) AS n_cust
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 2, 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       COUNT(DISTINCT o_custkey)
FROM orders WHERE o_orderkey % 2 = 1
UNION ALL
SELECT 3, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       COUNT(DISTINCT o_custkey)
FROM orders WHERE o_orderkey % 7 = 0
"""


def q_versioned_changes_recorded(spark, sf):
    """The BATCH change feed on its O(changed rows) fast path
    (sinks/versioned.py read_changes + commit-time change files): v1
    writes the even orders, v2 merge-on-read deletes keys ≡0 (mod 10)
    recording its change set, v3 copy-on-write updates keys ≡4
    (mod 10) (+1000000 on the custkey) recording old+new images, v4
    OPTIMIZEs recording an explicit empty set. Every commit in (1,4]
    carries a recorded set, so read_changes nets the range from the
    recorded rows alone — ZERO snapshot files opened on either side
    (at 100 TB the feed costs the changed rows, not the table).

    Literals, oracle-pinned TRUE: ``recorded_fast_path`` — the feed
    reported ``change_files_used`` ≥ 2 with files_scanned_before ==
    files_scanned_after == 0. The aggregate replays the exact netted
    change multiset per change_type — old images, new images and MOR
    deletes each contribute distinct custkey sums, so a dropped or
    double-counted recorded row fails the value hash."""
    from .sinks.versioned import (
        delete_version,
        optimize_table,
        read_changes,
        update_version,
        write_version,
    )

    with scratch_dir("q_cfbatch_") as d:
        t = os.path.join(d, "orders_v")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
        write_version(
            spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), t
        )
        delete_version(
            spark, t, "o_orderkey % 10 = 0", mode="mor", change_files=True
        )
        update_version(
            spark,
            t,
            "o_orderkey % 10 = 4",
            {"o_custkey": "o_custkey + 1000000"},
            change_files=True,
        )
        optimize_table(spark, t, change_files=True)

        info: dict = {}
        feed = read_changes(spark, t, 1, 4, info=info)
        agg = materialize(
            feed.groupBy("_change_type").agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum("o_custkey").alias("cust_sum"),
            )
        )
        recorded_fast_path = (
            info.get("change_files_used", 0) >= 2
            and info["files_scanned_before"] == 0
            and info["files_scanned_after"] == 0
        )
        return materialize(
            agg.withColumn("recorded_fast_path", F.lit(recorded_fast_path))
        )


SQL_VERSIONED_CHANGES_RECORDED = """
SELECT 'delete' AS _change_type, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       TRUE AS recorded_fast_path
FROM orders WHERE o_orderkey % 10 IN (0, 4)
UNION ALL
SELECT 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(o_custkey + 1000000) AS BIGINT), TRUE
FROM orders WHERE o_orderkey % 10 = 4
"""


def q_versioned_optimize_incremental(spark, sf):
    """INCREMENTAL re-cluster (sinks/versioned.py optimize_table
    ``incremental=True`` — the liquid-clustering cost profile): v1 lays
    the even orders out range-clustered on o_orderkey with recorded
    envelopes, v2 appends the odd orders hash-scattered (each appended
    file spans the whole key domain — the shape a hot partition's
    appends produce), then the incremental optimize selects ONLY the
    wide-envelope files from the recorded stats (metadata-only
    selection, zero probe I/O), rewrites them range-tiled and carries
    the clustered files BY IDENTITY — O(scattered files), never
    O(table), which is what keeps a continuously-maintained layout
    affordable at 100 TB.

    Literals, oracle-pinned TRUE: ``partial`` — 0 < files_rewritten <
    files_before; ``layout_improved`` — recorded-stats avg_point_reads
    strictly dropped; ``probe_tightened`` — a narrow range probe
    (read_version_pruned, zero footer I/O) reads strictly fewer files
    after the commit. The aggregate hashes the PRUNED probe's rows, so
    a pruning bug that drops live rows fails the value hash, not just
    a counter."""
    from .sinks.versioned import (
        optimize_table,
        read_version_pruned,
        write_version,
    )

    with scratch_dir("q_incopt_") as d:
        t = os.path.join(d, "orders_v")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
                4, F.col("o_orderkey")
            ),
            t,
            stats_cols=["o_orderkey"],
        )
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1).repartition(3),
            t,
            mode="append",
        )
        probe = {"o_orderkey": (1, 100)}
        _, info_before = read_version_pruned(spark, t, ranges=probe)
        res = optimize_table(
            spark, t, cluster_by=["o_orderkey"], incremental=True
        )
        df_after, info_after = read_version_pruned(spark, t, ranges=probe)
        partial = 0 < res["files_rewritten"] < res["files_before"]
        layout_improved = (
            res["avg_point_reads_after"] < res["avg_point_reads_before"]
        )
        probe_tightened = (
            info_after["files_read"] < info_before["files_read"]
            and info_after["footer_files"] == 0
        )
        return materialize(
            df_after.agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn("partial", F.lit(partial))
            .withColumn("layout_improved", F.lit(layout_improved))
            .withColumn("probe_tightened", F.lit(probe_tightened))
        )


SQL_VERSIONED_OPTIMIZE_INCREMENTAL = """
SELECT COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS partial, TRUE AS layout_improved, TRUE AS probe_tightened
FROM orders WHERE o_orderkey BETWEEN 1 AND 100
"""


def q_versioned_column_mapping(spark, sf):
    """FIELD-ID COLUMN MAPPING (sinks/versioned.py rename_column /
    drop_column — Delta columnMapping / Iceberg field ids): RENAME and
    DROP are METADATA-ONLY commits. v1 writes the even orders, v2
    renames o_totalprice→price, v3 drops o_custkey, v4 appends the odd
    orders under the NEW schema (its files store the frozen PHYSICAL
    name o_totalprice — readers scan physical, alias to logical), v5
    copy-on-write deletes keys ≡0 (mod 7) under the new name. The
    final aggregate reads a snapshot whose rows span pre-rename files,
    post-rename files and a DML rewrite — every value flows through
    the id translation, so a mis-mapped column fails the hash.

    Literals, oracle-pinned TRUE: ``metadata_only`` — v2's and v3's
    manifests reference EXACTLY v1's data files (zero rewrites: on a
    100 TB table the rename costs one manifest write, the point of
    field ids); ``time_travel_names`` — v1 still reads under its own
    original column names while the head reads under the new ones."""
    from .sinks.versioned import (
        delete_version,
        drop_column,
        load_manifest,
        read_version,
        rename_column,
        write_version,
    )

    with scratch_dir("q_colmap_") as d:
        t = os.path.join(d, "orders_v")
        o = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_version(
            spark, o.filter(F.col("o_orderkey") % 2 == 0).repartition(2), t
        )
        rename_column(t, "o_totalprice", "price")
        drop_column(t, "o_custkey")
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", F.col("o_totalprice").alias("price"))
            .repartition(2),
            t,
            mode="append",
        )
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0)

        m1, m2, m3 = (load_manifest(t, v) for v in (1, 2, 3))
        metadata_only = (
            m2["files"] == m1["files"] and m3["files"] == m1["files"]
        )
        time_travel_names = read_version(spark, t, version=1).columns == [
            "o_orderkey", "o_custkey", "o_totalprice"
        ] and read_version(spark, t).columns == ["o_orderkey", "price"]

        return materialize(
            read_version(spark, t)
            .groupBy((F.col("o_orderkey") % 5).alias("bucket"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
                F.sum(
                    F.floor(F.col("price") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn("metadata_only", F.lit(metadata_only))
            .withColumn("time_travel_names", F.lit(time_travel_names))
        )


SQL_VERSIONED_COLUMN_MAPPING = """
SELECT o_orderkey % 5 AS bucket, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS metadata_only, TRUE AS time_travel_names
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY o_orderkey % 5
"""


def q_streaming_cdf_rewrites(spark, sf):
    """The change stream CROSSING REWRITE COMMITS via commit-time
    change files (sinks/versioned.py ``change_files=True`` — the Delta
    ``_change_data`` pattern; sources/versioned_stream.py consumes the
    recorded sets): v1 writes the even orders off the ≡4 (mod 10)
    residue, v2 appends the ≡4 keys into their own files, v3
    copy-on-write UPDATEs those keys (+1000 on the price) recording
    its exact old+new images, v4 OPTIMIZEs recording an explicit EMPTY
    set, v5 merge-on-read deletes keys ≡0 (mod 7). Without change
    files v3 and v4 are refusals (locked by tests); with them ONE
    stream drains all five commits through a parquet file sink and the
    query summarizes per (commit, change_type).

    Scale literals, oracle-pinned TRUE: ``carried_never_scanned`` —
    the v3 microbatch plans exactly one task per recorded change file
    while the commit carried untouched data files (the rewrite's
    carried files are never opened; at 100 TB the update's cost in the
    stream is O(updated rows), not O(table)); and
    ``optimize_zero_tasks`` — the OPTIMIZE commit plans zero tasks
    (layout changed, content didn't). The oracle replays every
    commit's exact change set from the orders table, updated images
    included — a mis-attributed or double-delivered row anywhere fails
    the value hash."""
    from .sinks.versioned import (
        delete_version,
        optimize_table,
        update_version,
        write_version,
    )
    from .sources.versioned_stream import (
        VersionedChangesStreamReader,
        read_changes_stream,
    )

    with scratch_dir("q_cfstream_") as d:
        t = os.path.join(d, "orders_v")
        sink = os.path.join(d, "changes_out")
        ckpt = os.path.join(d, "ckpt")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        evens = o.filter(F.col("o_orderkey") % 2 == 0)
        write_version(
            spark,
            evens.filter(F.col("o_orderkey") % 10 != 4).repartition(2),
            t,
        )
        write_version(
            spark,
            evens.filter(F.col("o_orderkey") % 10 == 4).repartition(1),
            t,
            mode="append",
        )
        upd = update_version(
            spark,
            t,
            "o_orderkey % 10 = 4",
            {"o_totalprice": "o_totalprice + 1000"},
            change_files=True,
        )
        optimize_table(spark, t, change_files=True)
        delete_version(spark, t, F.col("o_orderkey") % 7 == 0, mode="mor")

        # plan-shape literals straight from the stream's planner
        # (partitions() is manifest-only; schema is unused by it)
        rdr = VersionedChangesStreamReader(None, {"path": t})
        v3_tasks = len(rdr.partitions({"version": 2}, {"version": 3}))
        carried_never_scanned = (
            v3_tasks == upd["change_files_added"] and upd["files_carried"] > 0
        )
        optimize_zero_tasks = (
            len(rdr.partitions({"version": 3}, {"version": 4})) == 0
        )

        q = (
            read_changes_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return materialize(
            spark.read.parquet(sink)
            .groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("sum_key"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn(
                "carried_never_scanned", F.lit(carried_never_scanned)
            )
            .withColumn("optimize_zero_tasks", F.lit(optimize_zero_tasks))
        )


SQL_STREAMING_CDF_REWRITES = """
SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
       COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS carried_never_scanned, TRUE AS optimize_zero_tasks
FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 4
UNION ALL
SELECT 2, 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 10 = 4
UNION ALL
SELECT 3, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 10 = 4
UNION ALL
SELECT 3, 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR((o_totalprice + 1000) * 100 + 0.5) AS BIGINT))
            AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 10 = 4
UNION ALL
SELECT 5, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(
         (CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1000
               ELSE o_totalprice END) * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 = 0
"""


def q_streaming_merge_cdf(spark, sf):
    """The change stream crossing a MERGE commit via commit-time change
    files (sinks/versioned.py ``merge_version(change_files=True)`` —
    round 13's CDC-composability close): v1 writes the evens off the
    2/4/6 residues (mod 10), v2 appends those residues into their own
    file, v3 is ONE MERGE carrying all three arms at once — update
    (keys ≡4: +1000 on the price), insert (odd keys ≡1, new), delete
    directive (keys ≡6, ``delete_col``) — plus an IDENTICAL incoming
    row per key ≡2, which must record NOTHING (the recorded set is the
    commit's NET change, always equal to read_changes' multiset diff).
    Without the flag the merge is a stream refusal (locked by
    tests/test_change_files.py). One stream drains all three commits
    through a parquet file sink; the query summarizes per
    (commit_version, change_type).

    Scale literals, oracle-pinned TRUE: ``merge_carried_never_scanned``
    — the v3 microbatch plans exactly one task per recorded change
    file while the merge carried untouched files (at 100 TB a
    CDC-maintained table streams O(changed rows) per trigger, never
    O(table)); ``identity_rows_net_out`` — the ≡2 keys appear nowhere
    in the v3 batch (a no-op upsert is not a change). The oracle
    replays every commit's exact change set from the orders table,
    updated images and delete directives included.

    Reference tie-in: this is the P3 upsert shape
    (``huggingface_extract.py:140-156`` (pyc), per-row ON CONFLICT)
    re-expressed as one streamable lakehouse commit."""
    from .sinks.versioned import merge_version, write_version
    from .sources.versioned_stream import (
        VersionedChangesStreamReader,
        read_changes_stream,
    )

    with scratch_dir("q_mergecdf_") as d:
        t = os.path.join(d, "orders_v")
        sink = os.path.join(d, "changes_out")
        ckpt = os.path.join(d, "ckpt")
        o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
        evens = o.filter(F.col("o_orderkey") % 2 == 0)
        res10 = F.col("o_orderkey") % 10
        write_version(
            spark, evens.filter(~res10.isin(2, 4, 6)).repartition(2), t
        )
        write_version(
            spark,
            evens.filter(res10.isin(2, 4, 6)).repartition(1),
            t,
            mode="append",
        )
        upd = o.filter(res10 == 4).select(
            "o_orderkey",
            (F.col("o_totalprice") + 1000).alias("o_totalprice"),
            F.lit(False).alias("_del"),
        )
        ident = o.filter(res10 == 2).select(
            "o_orderkey", "o_totalprice", F.lit(False).alias("_del")
        )
        dirs = o.filter(res10 == 6).select(
            "o_orderkey",
            F.lit(None).cast("double").alias("o_totalprice"),
            F.lit(True).alias("_del"),
        )
        ins = o.filter(res10 == 1).select(
            "o_orderkey", "o_totalprice", F.lit(False).alias("_del")
        )
        inc = upd.unionByName(ident).unionByName(dirs).unionByName(ins)
        mres = merge_version(
            spark, inc, t, keys=["o_orderkey"], delete_col="_del",
            change_files=True,
        )
        # plan-shape literals straight from the stream's planner
        rdr = VersionedChangesStreamReader(None, {"path": t})
        v3_tasks = len(rdr.partitions({"version": 2}, {"version": 3}))
        merge_carried_never_scanned = (
            v3_tasks == mres["change_files_added"]
            and mres["files_carried"] > 0
        )

        q = (
            read_changes_stream(spark, t)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        drained = spark.read.parquet(sink)
        identity_rows_net_out = (
            drained.filter(
                (F.col("_commit_version") == 3)
                & (F.col("o_orderkey") % 10 == 2)
            ).count()
            == 0
        )
        return materialize(
            drained.groupBy(
                F.col("_commit_version").alias("commit_version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("sum_key"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn(
                "merge_carried_never_scanned",
                F.lit(merge_carried_never_scanned),
            )
            .withColumn(
                "identity_rows_net_out", F.lit(identity_rows_net_out)
            )
        )


SQL_STREAMING_MERGE_CDF = """
SELECT CAST(1 AS BIGINT) AS commit_version, 'insert' AS change_type,
       COUNT(*) AS n_rows, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS merge_carried_never_scanned, TRUE AS identity_rows_net_out
FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 NOT IN (2, 4, 6)
UNION ALL
SELECT 2, 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 10 IN (2, 4, 6)
UNION ALL
SELECT 3, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 10 IN (4, 6)
UNION ALL
SELECT 3, 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(
         (CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice + 1000
               ELSE o_totalprice END) * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE
FROM orders WHERE o_orderkey % 10 IN (1, 4)
"""


def q_versioned_nested_mapping(spark, sf):
    """NESTED field ids in column mapping (round 13 —
    sinks/versioned.py ``rename_column``/``drop_column`` with dotted
    paths): the books corpus's ``authors[].id`` shape
    (``/root/reference/scripts/transform.py:27-29``) generalized. v1
    writes the even orders as ``(o_orderkey, meta struct<cust,price>,
    items array<struct<pid,qty>>)`` (items = the order's lineitems);
    v2 renames the NESTED ``items.pid`` → ``part_id`` and v3 drops the
    NESTED ``meta.price`` — both METADATA-ONLY commits (zero data
    files touched at any table size: nested physical names are frozen
    at creation, readers apply one positional struct cast per column —
    NULL-preserving); v4 appends the odd orders under the NEW names.
    The head read projects pre-rename and post-rename files
    identically; the query aggregates the exploded items per orderkey
    residue.

    Scale literals, oracle-pinned TRUE: ``metadata_only`` — v2 and v3
    committed the IDENTICAL file list as their parents (the whole
    point: an ALTER on a 100 TB table is one manifest write);
    ``time_travel_names`` — v1 still reads under ``pid``/``price``
    while the head reads under ``part_id`` without ``price`` (each
    manifest carries its own mapping). The oracle replays the full
    aggregate from orders ⋈ lineitem, so a mis-projected nested byte
    anywhere fails the value hash."""
    from .sinks.versioned import (
        drop_column,
        load_manifest,
        read_version,
        rename_column,
        write_version,
    )

    with scratch_dir("q_nestmap_") as d:
        t = os.path.join(d, "orders_nested")
        o = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        li = _t(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        )

        def shaped(keys, pid_name: str, with_price: bool):
            items = (
                li.join(
                    keys.select("o_orderkey"),
                    li.l_orderkey == keys.o_orderkey,
                    "left_semi",
                )
                .groupBy("l_orderkey")
                .agg(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("l_partkey").alias(pid_name),
                                F.col("l_quantity").alias("qty"),
                            )
                        )
                    ).alias("items")
                )
            )
            meta_fields = [F.col("o_custkey").alias("cust")] + (
                [F.col("o_totalprice").alias("price")] if with_price else []
            )
            return (
                keys.join(items, keys.o_orderkey == items.l_orderkey, "left")
                .select(
                    "o_orderkey",
                    F.struct(*meta_fields).alias("meta"),
                    F.coalesce(
                        "items",
                        F.array().cast(
                            f"array<struct<{pid_name}:long,qty:double>>"
                        ),
                    ).alias("items"),
                )
            )

        evens = o.filter(F.col("o_orderkey") % 2 == 0)
        odds = o.filter(F.col("o_orderkey") % 2 == 1)
        write_version(spark, shaped(evens, "pid", True).coalesce(2), t)  # v1
        v2 = rename_column(t, "items.pid", "part_id")
        v3 = drop_column(t, "meta.price")
        write_version(
            spark, shaped(odds, "part_id", False).coalesce(2), t,
            mode="append",
        )  # v4
        f1 = load_manifest(t, 1)["files"]
        metadata_only = (
            load_manifest(t, v2)["files"] == f1
            and load_manifest(t, v3)["files"] == f1
        )
        old = read_version(spark, t, version=1)
        head = read_version(spark, t)
        time_travel_names = (
            old.schema["items"].dataType.elementType.names == ["pid", "qty"]
            and old.schema["meta"].dataType.names == ["cust", "price"]
            and head.schema["items"].dataType.elementType.names
            == ["part_id", "qty"]
            and head.schema["meta"].dataType.names == ["cust"]
        )
        grp = (F.col("o_orderkey") % 10).alias("grp")
        a1 = head.groupBy(grp).agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("meta.cust")).alias("sum_cust"),
        )
        it = head.select(grp, F.explode("items").alias("item"))
        a2 = it.groupBy("grp").agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("item.part_id")).alias("sum_part_id"),
            F.sum(
                F.floor(F.col("item.qty") * 100 + 0.5).cast("long")
            ).alias("qty_cents"),
        )
        return materialize(
            a1.join(a2, "grp", "left")
            .select(
                "grp",
                "n_orders",
                "sum_cust",
                F.coalesce("n_items", F.lit(0)).alias("n_items"),
                F.coalesce("sum_part_id", F.lit(0)).alias("sum_part_id"),
                F.coalesce("qty_cents", F.lit(0)).alias("qty_cents"),
            )
            .withColumn("metadata_only", F.lit(metadata_only))
            .withColumn("time_travel_names", F.lit(time_travel_names))
        )


SQL_VERSIONED_NESTED_MAPPING = """
WITH o AS (
  SELECT o_orderkey, o_orderkey % 10 AS grp, o_custkey FROM orders
), a1 AS (
  SELECT grp, COUNT(*) AS n_orders,
         CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
  FROM o GROUP BY grp
), a2 AS (
  SELECT o.grp, COUNT(*) AS n_items,
         CAST(SUM(l.l_partkey) AS BIGINT) AS sum_part_id,
         CAST(SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS qty_cents
  FROM o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.grp
)
SELECT a1.grp, a1.n_orders, a1.sum_cust,
       COALESCE(a2.n_items, 0) AS n_items,
       COALESCE(a2.sum_part_id, 0) AS sum_part_id,
       COALESCE(a2.qty_cents, 0) AS qty_cents,
       TRUE AS metadata_only, TRUE AS time_travel_names
FROM a1 LEFT JOIN a2 ON a1.grp = a2.grp
"""


def q_versioned_rename_stats(spark, sf):
    """Renames on STATS-COVERED and BLOOM-INDEXED columns (round 13 —
    recorded footer envelopes and index dirs are keyed by the column's
    frozen PHYSICAL name; every read/build site resolves logical →
    physical through the mapping, so the r12 refusals on exactly the
    columns most worth renaming — the popular, hence covered, ones —
    are gone): v1 writes the even orders range-clustered on
    ``o_orderkey`` with recorded stats on it and a Bloom index on
    ``o_custkey``; v2/v3 rename BOTH to ``order_id``/``cust_id``
    (metadata-only); v4 appends the odd orders under the new names
    (stats coverage and the index CHAIN keep maintaining through the
    mapping); v5 runs incremental OPTIMIZE clustering on the RENAMED
    column. The result summarizes a range probe and a Bloom equality
    probe at the head, both under the new names.

    Scale literals, oracle-pinned TRUE: ``range_pruned_zero_footers``
    — the range probe skipped files from RECORDED envelopes alone
    (fewer files read than total, zero footer I/O: at 100k files the
    footer pass is the query latency, and a rename must not bring it
    back); ``bloom_pruned`` — the equality probe skipped files through
    the physical-keyed index chain; ``optimize_partial`` — the
    incremental OPTIMIZE on the renamed column rewrote a strict subset
    and carried the rest by identity. The probe ROWS are the value
    hash — a wrong envelope key or index dir would either lose rows
    (pruning false negative) or fail a literal."""
    from .sinks.versioned import (
        optimize_table,
        read_version_pruned,
        rename_column,
        write_bloom_index,
        write_version,
    )

    with scratch_dir("q_renstats_") as d:
        t = os.path.join(d, "orders_ren")
        o = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        evens = o.filter(F.col("o_orderkey") % 2 == 0)
        odds = o.filter(F.col("o_orderkey") % 2 == 1)
        write_version(
            spark,
            evens.repartitionByRange(4, "o_orderkey"),
            t,
            stats_cols=["o_orderkey"],
        )  # v1 — the SAME column is stats-covered AND Bloom-indexed
        write_bloom_index(spark, t, "o_orderkey")
        rename_column(t, "o_orderkey", "order_id")  # v2
        rename_column(t, "o_custkey", "cust_id")  # v3
        write_version(
            spark,
            odds.select(
                F.col("o_orderkey").alias("order_id"),
                F.col("o_custkey").alias("cust_id"),
                "o_totalprice",
            ).repartition(2),
            t,
            mode="append",
        )  # v4 — hash-scattered on purpose
        opt = optimize_table(
            spark, t, cluster_by=["order_id"], incremental=True
        )  # v5
        optimize_partial = (
            opt["files_rewritten"] > 0 and opt["files_carried"] > 0
        )
        r_df, r_info = read_version_pruned(
            spark, t, ranges={"order_id": (1, 512)}
        )
        range_pruned_zero_footers = (
            r_info["files_read"] < r_info["files_total"]
            and r_info["footer_files"] == 0
        )
        # point lookups on the renamed UNIQUE key: each key lives in
        # exactly one file, so the Bloom chain prunes at ANY scale
        # (keys 2 and 7 exist at every TPC-H sf; 2 landed pre-rename,
        # 7 post-rename — both files probe through the frozen physical)
        b_df, b_info = read_version_pruned(
            spark, t, keys={"order_id": [2, 7]}
        )
        bloom_pruned = b_info["files_read"] < b_info["files_total"]

        def summarize(df, label):
            return df.agg(
                F.lit(label).alias("probe"),
                F.count("*").alias("n_rows"),
                F.sum("order_id").alias("sum_order_id"),
                F.sum("cust_id").alias("sum_cust_id"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
        return materialize(
            summarize(r_df, "range")
            .unionByName(summarize(b_df, "bloom"))
            .withColumn(
                "range_pruned_zero_footers",
                F.lit(range_pruned_zero_footers),
            )
            .withColumn("bloom_pruned", F.lit(bloom_pruned))
            .withColumn("optimize_partial", F.lit(optimize_partial))
        )


SQL_VERSIONED_RENAME_STATS = """
SELECT 'range' AS probe, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_order_id,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust_id,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS range_pruned_zero_footers, TRUE AS bloom_pruned,
       TRUE AS optimize_partial
FROM orders WHERE o_orderkey BETWEEN 1 AND 512
UNION ALL
SELECT 'bloom', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
       CAST(SUM(o_custkey) AS BIGINT),
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT),
       TRUE, TRUE, TRUE
FROM orders WHERE o_orderkey IN (2, 7)
"""


def q_versioned_partition_rename(spark, sf):
    """Rename of a PARTITION column (round 14 — the last name-addressed
    refusal in column mapping, and the one a real lakehouse hits first:
    a date/region-partitioned 100 TB table renaming its key). The
    layout — hive shadow dir keys, recorded per-file value maps,
    ``partition_cols`` itself — is keyed by the column's frozen
    PHYSICAL name, so the rename is ONE manifest write and every
    consumer resolves logical → physical: v1 writes the even orders
    hive-partitioned by ``o_orderstatus``; v2 renames it to ``status``
    (metadata-only); v3 appends the odd orders under the new name
    (layout inherited through the mapping); v4 replaces the 'F'
    partition wholesale via overwrite_partitions scoped by the NEW
    name (prices doubled); v5 drops the 'P' partition with a
    partition-scoped DELETE. The result summarizes the surviving
    table per status.

    Scale literals, oracle-pinned TRUE: ``partition_pruned_zero_io``
    — an equality probe on the renamed column skipped files from the
    manifest's value map alone (zero footer I/O, exact); ``replace_
    carried_unopened`` — the partition overwrite dropped in-scope files
    and carried the rest WITHOUT opening any (files_rewritten == 0:
    O(replaced + incoming), never O(table)); ``delete_scanned_scope_
    only`` — the scoped DELETE opened only in-scope files. The
    surviving rows are the value hash: a mis-keyed value map would
    either lose a partition or leak the replaced one.

    Reference parity: the reference snapshots the whole corpus per run
    (``/root/reference/dags/``, full re-extract); partition-scoped
    backfill + rename-safe layout is what that becomes on a versioned
    100 TB table."""
    from .sinks.versioned import (
        delete_version,
        overwrite_partitions,
        read_version,
        read_version_pruned,
        rename_column,
        write_version,
    )

    with scratch_dir("q_partren_") as d:
        t = os.path.join(d, "orders_part")
        o = _t(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
        )
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0)
            .repartition("o_orderstatus"),
            t,
            partition_by=["o_orderstatus"],
        )  # v1 — hive layout keyed by the (then-)logical name
        rename_column(t, "o_orderstatus", "status")  # v2, metadata-only
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1)
            .withColumnRenamed("o_orderstatus", "status")
            .repartition("status"),
            t,
            mode="append",
        )  # v3 — inherits the layout under the new name
        # probe BEFORE the replace so 'F' files are still multi-file
        p_df, p_info = read_version_pruned(
            spark, t, keys={"status": ["O"]}
        )
        partition_pruned_zero_io = (
            p_info["partition_skipped"] > 0
            and p_info["files_read"] < p_info["files_total"]
            and p_info["footer_files"] == 0
        )
        repl = (
            o.filter(F.col("o_orderstatus") == "F")
            .select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") * 2).alias("o_totalprice"),
                F.col("o_orderstatus").alias("status"),
            )
        )
        rep = overwrite_partitions(
            spark, repl, t, partition_scope={"status": ["F"]}
        )  # v4 — scope resolved logical → physical
        replace_carried_unopened = (
            rep["files_replaced"] > 0
            and rep["files_carried"] > 0
            and rep["files_rewritten"] == 0
        )
        m_files = rep["files_carried"] + rep["files_added"]
        res = delete_version(
            spark, t, None, partition_scope={"status": ["P"]}
        )  # v5 — partition-DML form under the new name
        delete_scanned_scope_only = res["files_scanned"] < m_files
        return materialize(
            read_version(spark, t)
            .groupBy("status")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("sum_key"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                ).alias("cents"),
            )
            .withColumn(
                "partition_pruned_zero_io", F.lit(partition_pruned_zero_io)
            )
            .withColumn(
                "replace_carried_unopened", F.lit(replace_carried_unopened)
            )
            .withColumn(
                "delete_scanned_scope_only",
                F.lit(delete_scanned_scope_only),
            )
        )


SQL_VERSIONED_PARTITION_RENAME = """
WITH final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
              ELSE o_totalprice END AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderstatus <> 'P'
)
SELECT status, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(FLOOR(price * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       TRUE AS partition_pruned_zero_io,
       TRUE AS replace_carried_unopened,
       TRUE AS delete_scanned_scope_only
FROM final GROUP BY status
"""


def q_versioned_nested_stats(spark, sf):
    """Recorded stats on a NESTED struct leaf (round 14 — Iceberg
    records per-field stats at any depth; this brings ``stats_cols``
    to dotted paths): parquet footers carry row-group min/max per LEAF
    column regardless of nesting, so the envelope machinery only
    needed dotted-path resolution (``meta.price``-shaped, the
    reference's ``rating.average``, ``scripts/transform.py:35``). v1
    writes the even orders with ``rating = struct(average, stars)``
    range-clustered on ``rating.average`` and stats recorded on it;
    v2 RENAMES the leaf to ``rating.avg`` (metadata-only — the
    stats_cols entry follows, envelopes stay keyed by the frozen
    physical dotted path); v3 appends the odd orders hash-scattered
    (coverage inherits); v4 runs INCREMENTAL OPTIMIZE clustering on
    the renamed leaf — envelope-driven selection rewrites the
    scattered increment and carries the clustered base by identity.
    The result summarizes a range probe on ``rating.avg`` at the head.

    Scale literals, oracle-pinned TRUE: ``range_pruned_zero_footers``
    — the probe skipped files from RECORDED envelopes alone (fewer
    files read than total, zero footer I/O — nested pruning must stay
    metadata-only at 100k files exactly like top-level);
    ``optimize_partial`` — the incremental pass rewrote a strict
    subset selected by the nested envelopes. The probe rows are the
    value hash: a wrong dotted key loses rows or forces footers."""
    from .sinks.versioned import (
        optimize_table,
        read_version_pruned,
        rename_column,
        write_version,
    )

    with scratch_dir("q_neststats_") as d:
        t = os.path.join(d, "orders_nested")
        o = _t(spark, sf, "orders").select(
            "o_orderkey",
            F.struct(
                F.col("o_totalprice").alias("average"),
                (F.col("o_orderkey") % 5).cast("int").alias("stars"),
            ).alias("rating"),
        )
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 0)
            .repartitionByRange(4, "rating.average"),
            t,
            stats_cols=["rating.average"],
        )  # v1 — clustered, nested envelopes recorded
        rename_column(t, "rating.average", "avg")  # v2, metadata-only
        write_version(
            spark,
            o.filter(F.col("o_orderkey") % 2 == 1)
            .withColumn(
                "rating",
                F.struct(
                    F.col("rating.average").alias("avg"),
                    F.col("rating.stars").alias("stars"),
                ),
            )
            .repartition(2),
            t,
            mode="append",
        )  # v3 — hash-scattered on purpose, coverage inherits
        opt = optimize_table(
            spark, t, cluster_by=["rating.avg"], incremental=True
        )  # v4 — selection driven by the NESTED envelopes
        optimize_partial = (
            opt["files_rewritten"] > 0 and opt["files_carried"] > 0
        )
        p_df, p_info = read_version_pruned(
            spark, t, ranges={"rating.avg": (1000.0, 50000.0)}
        )
        range_pruned_zero_footers = (
            p_info["files_read"] < p_info["files_total"]
            and p_info["footer_files"] == 0
        )
        return materialize(
            p_df.agg(
                F.count("*").alias("n_rows"),
                F.sum("o_orderkey").alias("sum_key"),
                F.sum(
                    F.floor(F.col("rating.avg") * 100 + 0.5).cast("long")
                ).alias("cents"),
                F.sum("rating.stars").cast("long").alias("sum_stars"),
            )
            .withColumn(
                "range_pruned_zero_footers",
                F.lit(range_pruned_zero_footers),
            )
            .withColumn("optimize_partial", F.lit(optimize_partial))
        )


SQL_VERSIONED_NESTED_STATS = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(SUM(o_orderkey % 5) AS BIGINT) AS sum_stars,
       TRUE AS range_pruned_zero_footers,
       TRUE AS optimize_partial
FROM orders WHERE o_totalprice BETWEEN 1000.0 AND 50000.0
"""


# ---------------------------------------------------------------------------
# Training-sequence packing + RAG chunking (operators/packing.py)
# ---------------------------------------------------------------------------


def q_seq_pack(spark, sf):
    """GPT/T5 concatenate-and-split sequence packing over the document
    corpus (operators/packing.py pack_sequences): whitespace tokens laid
    end-to-end in doc_id order, cut into 64-token training sequences,
    with per-sequence document-boundary offsets (the attention-mask
    payload) and an md5 content fingerprint.

    Scale: global token offsets come from the two-pass distributed
    prefix sum over a (doc_id, n_tokens) projection — never a global
    window; tokens shuffle once into uniform seq_id groups with state
    bounded by seq_len. The oracle replays the identical arithmetic
    with a window sum (fine at sf0.01; the operator exists because that
    window is single-task at 100 TB)."""
    from .operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf, "documents"), seq_len=64)


SQL_SEQ_PACK = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
), sized AS (
  SELECT doc_id, t,
         SUM(len(t)) OVER (ORDER BY doc_id) - len(t) AS start
  FROM toks
), tok AS (
  SELECT doc_id, start + u.i - 1 AS gpos, u.i AS pos1, t[u.i] AS token
  FROM sized, UNNEST(range(1, len(t) + 1)) AS u(i)
)
SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
       COUNT(*) AS n_tokens,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       COALESCE(string_agg(CASE WHEN pos1 = 1 THEN CAST(gpos % 64 AS VARCHAR) END,
                           ',' ORDER BY gpos), '') AS doc_starts,
       md5(string_agg(token, ' ' ORDER BY gpos)) AS seq_md5
FROM tok GROUP BY 1
"""


def q_doc_chunks(spark, sf):
    """RAG ingestion chunker (operators/packing.py chunk_documents):
    120-char windows with 30-char overlap (stride 90) per document,
    offsets recorded. Pure narrow map — sequence/explode/substr in
    whole-stage codegen, zero shuffles."""
    from .operators.packing import chunk_documents

    return chunk_documents(_t(spark, sf, "documents"), chunk_size=120, overlap=30)


SQL_DOC_CHUNKS = """
SELECT doc_id, CAST(u.i AS INT) AS chunk_idx, CAST(u.i * 90 AS BIGINT) AS char_start,
       substr(text, u.i * 90 + 1, 120) AS chunk_text,
       CAST(length(substr(text, u.i * 90 + 1, 120)) AS BIGINT) AS chunk_len
FROM documents,
     UNNEST(range(0, 1 + (greatest(length(text) - 120, 0) + 89) // 90)) AS u(i)
WHERE text IS NOT NULL
"""


OPS_REGISTRY = {
    "exact_substr_spans": (q_exact_substr_spans, SQL_EXACT_SUBSTR_SPANS),
    "exact_substr_scrub": (q_exact_substr_scrub, SQL_EXACT_SUBSTR_SCRUB),
    "versioned_branch_publish": (
        q_versioned_branch_publish,
        SQL_VERSIONED_BRANCH_PUBLISH,
    ),
    "passage_dedup": (q_passage_dedup, SQL_PASSAGE_DEDUP),
    "zorder_key_events": (q_zorder_key_events, _sql_zorder_key_events()),
    "hilbert_key_events": (q_hilbert_key_events, _sql_hilbert_key_events()),
    "boilerplate_removal": (q_boilerplate_removal, SQL_BOILERPLATE_REMOVAL),
    "parquet_stats_events": (q_parquet_stats_events, SQL_PARQUET_STATS_EVENTS),
    "webdataset_members": (q_webdataset_members, SQL_WEBDATASET_MEMBERS),
    "webdataset_pipeline": (q_webdataset_pipeline, SQL_WEBDATASET_PIPELINE),
    "orc_roundtrip": (q_orc_roundtrip, SQL_ORC_ROUNDTRIP),
    "csv_tolerant_read": (q_csv_tolerant_read, SQL_CSV_TOLERANT_READ),
    "rollup_refresh": (q_rollup_refresh, SQL_ROLLUP_REFRESH),
    "salted_agg_events": (q_salted_agg_events, SQL_SALTED_AGG_EVENTS),
    "user_features": (q_user_features, SQL_USER_FEATURES),
    "merge_upsert_orders": (q_merge_upsert_orders, SQL_MERGE_UPSERT_ORDERS),
    "scd2_customer_history": (q_scd2_customer_history, SQL_SCD2_CUSTOMER_HISTORY),
    "image_decode": (q_image_decode, SQL_IMAGE_DECODE),
    "png_decode": (q_png_decode, SQL_PNG_DECODE),
    "jpeg_decode": (q_jpeg_decode, SQL_JPEG_DECODE),
    "jpeg_progressive_decode": (q_jpeg_progressive_decode, SQL_JPEG_PROGRESSIVE_DECODE),
    "gif_decode": (q_gif_decode, SQL_GIF_DECODE),
    "video_frames": (q_video_frames, SQL_VIDEO_FRAMES),
    "audio_decode": (q_audio_decode, SQL_AUDIO_DECODE),
    "audio_meta": (q_audio_meta, SQL_AUDIO_META),
    "video_meta": (q_video_meta, SQL_VIDEO_META),
    "flac_meta": (q_flac_meta, SQL_FLAC_META),
    "rest_pages_distributed": (q_rest_pages_distributed, SQL_REST_PAGES_DISTRIBUTED),
    "kmeans_clusters": (q_kmeans_clusters, None),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "semantic_dedup_scaled": (q_semantic_dedup_scaled, SQL_SEMANTIC_DEDUP_SCALED),
    "kmeans_assign_init": (q_kmeans_assign_init, SQL_KMEANS_ASSIGN_INIT),
    "cluster_balanced_sample": (q_cluster_balanced_sample, None),
    "cluster_sample_init": (q_cluster_sample_init, SQL_CLUSTER_SAMPLE_INIT),
    "bucketed_join_revenue": (q_bucketed_join_revenue, SQL_BUCKETED_JOIN_REVENUE),
    "stable_row_ids": (q_stable_row_ids, SQL_STABLE_ROW_IDS),
    "pps_sample_orders": (q_pps_sample_orders, SQL_PPS_SAMPLE_ORDERS),
    "weighted_sample_orders": (q_weighted_sample_orders, SQL_WEIGHTED_SAMPLE_ORDERS),
    "pagerank_2iter": (q_pagerank_2iter, SQL_PAGERANK_2ITER),
    "column_profile_events": (q_column_profile_events, _sql_profile_events()),
    "outlier_events": (q_outlier_events, SQL_OUTLIER_EVENTS),
    "compaction_roundtrip": (q_compaction_roundtrip, SQL_COMPACTION_ROUNDTRIP),
    "schema_evolution_union": (q_schema_evolution_union, SQL_SCHEMA_EVOLUTION_UNION),
    "snapshot_diff_orders": (q_snapshot_diff_orders, SQL_SNAPSHOT_DIFF_ORDERS),
    "bpe_pair_counts": (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "label_centroids": (q_label_centroids, SQL_LABEL_CENTROIDS),
    "versioned_time_travel": (q_versioned_time_travel, SQL_VERSIONED_TIME_TRAVEL),
    "versioned_merge_delete": (q_versioned_merge_delete, SQL_VERSIONED_MERGE_DELETE),
    "versioned_mor_delete": (q_versioned_mor_delete, SQL_VERSIONED_MOR_DELETE),
    "versioned_changes": (q_versioned_changes, SQL_VERSIONED_CHANGES),
    "versioned_restore": (q_versioned_restore, SQL_VERSIONED_RESTORE),
    "versioned_update": (q_versioned_update, SQL_VERSIONED_UPDATE),
    "cdc_replicate": (q_cdc_replicate, SQL_CDC_REPLICATE),
    "scd2_from_changes": (q_scd2_from_changes, SQL_SCD2_FROM_CHANGES),
    "versioned_optimize": (q_versioned_optimize, SQL_VERSIONED_OPTIMIZE),
    "versioned_stats_skip": (q_versioned_stats_skip, SQL_VERSIONED_STATS_SKIP),
    "maintenance_advisor": (q_maintenance_advisor, SQL_MAINTENANCE_ADVISOR),
    "expectations_quarantine": (
        q_expectations_quarantine,
        SQL_EXPECTATIONS_QUARANTINE,
    ),
    "dsir_sample": (q_dsir_sample, SQL_DSIR_SAMPLE),
    "versioned_pruned_read": (q_versioned_pruned_read, SQL_VERSIONED_PRUNED_READ),
    "versioned_index_compaction": (
        q_versioned_index_compaction,
        SQL_VERSIONED_INDEX_COMPACTION,
    ),
    "versioned_tag_read": (q_versioned_tag_read, SQL_VERSIONED_TAG_READ),
    "versioned_schema_evolution": (
        q_versioned_schema_evolution,
        SQL_VERSIONED_SCHEMA_EVOLUTION,
    ),
    "bloom_file_lookup": (q_bloom_file_lookup, SQL_BLOOM_FILE_LOOKUP),
    "image_dhash": (q_image_dhash, SQL_IMAGE_DHASH),
    "image_dhash_pairs": (q_image_dhash_pairs, SQL_IMAGE_DHASH_PAIRS),
    "image_neardup_keep": (q_image_neardup_keep, SQL_IMAGE_NEARDUP_KEEP),
    "image_corpus_manifest": (q_image_corpus_manifest, SQL_IMAGE_CORPUS_MANIFEST),
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    "mp4_samples": (q_mp4_samples, SQL_MP4_SAMPLES),
    "lm_quality": (q_lm_quality, SQL_LM_QUALITY),
    "nb_seed_classifier": (q_nb_seed_classifier, SQL_NB_SEED_CLASSIFIER),
    "ccnet_buckets": (q_ccnet_buckets, SQL_CCNET_BUCKETS),
    "corpus_manifest": (q_corpus_manifest, _sql_corpus_manifest()),
    "streaming_curated_ingest": (
        q_streaming_curated_ingest,
        _sql_streaming_curated_ingest(),
    ),
    "streaming_quarantine_ingest": (
        q_streaming_quarantine_ingest,
        SQL_STREAMING_QUARANTINE_INGEST,
    ),
    "streaming_exactly_once_ingest": (
        q_streaming_exactly_once_ingest,
        SQL_STREAMING_EXACTLY_ONCE_INGEST,
    ),
    "versioned_partition_prune": (
        q_versioned_partition_prune,
        SQL_VERSIONED_PARTITION_PRUNE,
    ),
    "versioned_clone": (q_versioned_clone, SQL_VERSIONED_CLONE),
    "table_fsck": (q_table_fsck, SQL_TABLE_FSCK),
    "versioned_concurrent": (q_versioned_concurrent, SQL_VERSIONED_CONCURRENT),
    "rollup_from_changes": (q_rollup_from_changes, SQL_ROLLUP_FROM_CHANGES),
    "table_history": (q_table_history, SQL_TABLE_HISTORY),
    "versioned_scoped_dml": (q_versioned_scoped_dml, SQL_VERSIONED_SCOPED_DML),
    "table_constraints": (q_table_constraints, SQL_TABLE_CONSTRAINTS),
    "versioned_replace_where": (
        q_versioned_replace_where,
        SQL_VERSIONED_REPLACE_WHERE,
    ),
    "versioned_generated_partition": (
        q_versioned_generated_partition,
        SQL_VERSIONED_GENERATED_PARTITION,
    ),
    "seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "versioned_optimize_incremental": (
        q_versioned_optimize_incremental,
        SQL_VERSIONED_OPTIMIZE_INCREMENTAL,
    ),
    "versioned_changes_recorded": (
        q_versioned_changes_recorded,
        SQL_VERSIONED_CHANGES_RECORDED,
    ),
    "versioned_column_mapping": (
        q_versioned_column_mapping,
        SQL_VERSIONED_COLUMN_MAPPING,
    ),
    "streaming_cdf_rewrites": (
        q_streaming_cdf_rewrites,
        SQL_STREAMING_CDF_REWRITES,
    ),
    "streaming_merge_cdf": (
        q_streaming_merge_cdf,
        SQL_STREAMING_MERGE_CDF,
    ),
    "versioned_nested_mapping": (
        q_versioned_nested_mapping,
        SQL_VERSIONED_NESTED_MAPPING,
    ),
    "versioned_partition_rename": (
        q_versioned_partition_rename,
        SQL_VERSIONED_PARTITION_RENAME,
    ),
    "versioned_nested_stats": (
        q_versioned_nested_stats,
        SQL_VERSIONED_NESTED_STATS,
    ),
    "versioned_rename_stats": (
        q_versioned_rename_stats,
        SQL_VERSIONED_RENAME_STATS,
    ),
    "streaming_versioned_changes": (
        q_streaming_versioned_changes,
        SQL_STREAMING_VERSIONED_CHANGES,
    ),
    "snapshot_drift_events": (q_snapshot_drift_events, SQL_SNAPSHOT_DRIFT_EVENTS),
    "wap_drift_gate": (q_wap_drift_gate, _sql_wap_drift_gate()),
}
