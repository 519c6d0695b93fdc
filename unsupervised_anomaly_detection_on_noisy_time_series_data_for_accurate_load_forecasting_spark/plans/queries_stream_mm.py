"""Streaming, multimodal, and imputation query specs.

- The streaming query has a full DuckDB oracle: Trigger.AvailableNow replays
  the same plan the live stream runs, so streaming output ≡ batch semantics.
- Multimodal queries carry single-node codec-mirror oracles (lazy VALUES
  goldens — the stub codec is deterministic, so the distributed islands must
  reproduce the local replica bit-for-bit).
- The masked-imputation query is fully oracle-checked (RNG mask + profile
  model are pure column programs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import davg_sql, dstd_sql, dsum_sql, lit_double, qround, qround_py, qround_sql
from ..functions.rng import rng_uniform_sql
from ..ml import imputer as IM
from ..operators import anomaly as AN
from ..operators import multimodal as MM
from ..sources.readers import load_table
from .queries_timeseries import FILLED_CTE
from .registry import register


@register(
    "stream_window_flags",
    oracle=f"""
    WITH stats AS (
      SELECT user_id, {davg_sql('value')} AS mean_v, {dstd_sql('value')} AS std_v
      FROM events GROUP BY 1
    ),
    fl AS (
      SELECT e.user_id, CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS h,
             CASE WHEN abs(e.value - s.mean_v) > 2.5 * s.std_v THEN 1 ELSE 0 END AS o
      FROM events e JOIN stats s ON e.user_id = s.user_id
    ),
    w AS (
      SELECT user_id, h AS window_start, o FROM fl
      UNION ALL
      SELECT user_id, h - INTERVAL 1 HOUR AS window_start, o FROM fl
    )
    SELECT CAST(user_id AS VARCHAR) AS series_id, window_start,
           count(*) AS n_events, CAST(sum(o) AS BIGINT) AS n_outliers
    FROM w GROUP BY 1, 2
    """,
    tags=("STREAM", "W1", "W6", "M14"),
    doc="Structured-Streaming watermarked sliding windows + stream-static "
    "z-flag join, drained via Trigger.AvailableNow ≡ batch semantics.",
)
def stream_window_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_window_flags as swf

    result = swf(spark, sf_dir)
    name = run_available_now(result, "stream_flags", state_partitions=SSP(sf_dir))
    return spark.table(name)


@register(
    "stream_dedup_hours",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           count(DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS n_unique_hours
    FROM events GROUP BY 1
    """,
    tags=("STREAM", "P2"),
    doc="Streaming form of P2 dedup: dropDuplicatesWithinWatermark on "
    "(user, hour) over the watermarked event stream — exactly one row per "
    "key survives state (which duplicate wins is arrival-order-defined, so "
    "the query aggregates to the per-user survivor COUNT, which is "
    "micro-batch-slicing-independent and equals the batch DISTINCT count). "
    "State is bounded by the watermark: keys older than 1 day are evicted, "
    "the streaming analog of P2's keep-first row_number.",
)
def stream_dedup_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_events

    s = stream_events(spark, sf_dir).withWatermark("ts", "1 day")
    dd = s.withColumn("h", F.date_trunc("hour", F.col("ts"))).dropDuplicatesWithinWatermark(
        ["user_id", "h"]
    )
    agg = dd.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_unique_hours"))
    name = run_available_now(agg, "stream_dedup", output_mode="complete", state_partitions=SSP(sf_dir))
    return spark.table(name).select(
        F.col("user_id").cast("string").alias("series_id"), "n_unique_hours"
    )


def _docs_pd():
    """Oracle-side fetch of (doc_id, text) at the pinned oracle SF."""
    from .queries_neural import _oracle_sf_dir

    import duckdb

    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM read_parquet('{_oracle_sf_dir()}/documents.parquet') ORDER BY doc_id"
    ).fetchdf()


def _fold_sum(vals) -> float:
    """The island's left-fold `aggregate(feature, 0D, (a, x) -> a + x)`."""
    acc = 0.0
    for v in vals:
        acc = acc + float(v)
    return acc


def _mm_features_oracle() -> str:
    """Mirror: same stub codec (sha256 → unit vector) recomputed single-node
    from the raw documents; payload = UTF-8 bytes exactly like
    multimodal.attach_binary_payload."""
    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        payload = r.text.encode("utf-8")
        feat = MM._fake_decode(payload)
        rows.append(f"({int(r.doc_id)}::BIGINT,{len(payload)}::INTEGER,{lit_double(qround_py(_fold_sum(feat), 9))})")
    return "SELECT * FROM (VALUES " + ",".join(rows) + ") AS t(media_id, n_bytes, feat_sum)"


def _mm_frames_oracle() -> str:
    """Mirror of the frame-sampling island: byte-stride 'frames', per-frame
    fold, then the same decimal-exact per-media total the Spark side uses."""
    docs = _docs_pd()
    frame_rows = []
    for r in docs.itertuples():
        payload = r.text.encode("utf-8")
        n_frames = len(r.text) % 16 + 1
        for fi in range(0, n_frames, 4):
            chunk = payload[fi::n_frames] or b"\0"
            frame_rows.append(f"({int(r.doc_id)}::BIGINT,{lit_double(_fold_sum(MM._fake_decode(chunk)))})")
    return f"""
    WITH frames(media_id, fsum) AS (VALUES {",".join(frame_rows)})
    SELECT media_id, count(*) AS n_frames_sampled,
           (floor(({dsum_sql('fsum')}) * 1000000000.0 + 0.5) / 1000000000.0) AS feat_total
    FROM frames GROUP BY media_id
    """


@register(
    "mm_binary_features",
    oracle=lambda: _mm_features_oracle(),
    tags=("MM-decode", "MM-schema"),
    doc="Multimodal plumbing: binary payload + metadata struct → Arrow-batched "
    "decode island (deterministic stub codec) → fixed-dim features. Oracle = "
    "single-node codec mirror (VALUES golden).",
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    feats = MM.extract_features(media)
    return feats.select(
        "media_id", "n_bytes", qround(F.expr("aggregate(feature, 0D, (a, x) -> a + x)"), 9).alias("feat_sum")
    )


@register(
    "mm_frame_sample",
    oracle=lambda: _mm_frames_oracle(),
    tags=("MM-video",),
    doc="Frame-sampling contract: media row → sampled-frame long table with "
    "per-frame features (stub decoder, real row-explosion shape). Oracle = "
    "single-node codec mirror; the per-media total is decimal-exact so "
    "partitioning can never change it.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import dsum

    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample(media, every_n=4)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames_sampled"),
        qround(dsum(F.expr("aggregate(feature, 0D, (a, x) -> a + x)")), 9).alias("feat_total"),
    )


@register(
    "m16_masked_imputation",
    oracle=f"""
    WITH {FILLED_CTE},
    mk AS (
      SELECT series_id, ts, value,
             CAST(series_id AS BIGINT) AS skey,
             CAST(floor(CAST(epoch(ts) AS BIGINT) / 86400) AS BIGINT) AS eday,
             CAST(extract(hour FROM ts) AS INTEGER) AS h
      FROM filled
    ),
    m2 AS (
      SELECT series_id, ts, value, h,
             CASE WHEN h >= CAST(floor({rng_uniform_sql('skey', 'eday', salt=IM.MASK_SALT)} * 20) AS INTEGER)
                   AND h < CAST(floor({rng_uniform_sql('skey', 'eday', salt=IM.MASK_SALT)} * 20) AS INTEGER) + {IM.MASK_SIZE}
                  THEN 1 ELSE 0 END AS mask
      FROM mk
    ),
    prof AS (
      SELECT *,
             CAST(sum(CASE WHEN mask = 0 THEN CAST(floor((value) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(27,6)) END)
                  OVER (PARTITION BY series_id, h) AS DOUBLE)
             / CAST(sum(CASE WHEN mask = 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY series_id, h) AS DOUBLE) AS profile
      FROM m2
    ),
    im AS (
      SELECT series_id, ts, value, mask,
             CASE WHEN mask = 1 THEN profile ELSE value END AS imputed
      FROM prof
    )
    SELECT series_id, count(*) AS n_masked,
           {dsum_sql('abs(imputed - value)')} / CAST(count(*) AS DOUBLE) AS mae,
           {dsum_sql('(imputed - value) * (imputed - value)')} / CAST(count(*) AS DOUBLE) AS mse
    FROM im WHERE mask = 1 GROUP BY series_id
    """,
    tags=("M16", "M17", "M18"),
    doc="Deterministic contiguous training masks → seasonal-profile imputation "
    "→ splice → masked-point MAE/MSE (the trained M17 AE is m17_ae_imputation).",
)
def m16_masked_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .shared import prepared_df

    series = prepared_df(spark, sf_dir)
    masked = IM.with_training_mask(series)
    imputed = IM.profile_impute(masked)
    return IM.imputation_eval(imputed)


def _mm_resize_oracle() -> str:
    """Mirror of the resize island: byte stream -> /255 grid -> nearest-
    neighbor resample -> left-fold pixel sum (same order as the Spark HOF)."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    n_px = 32 * 32
    for r in docs.itertuples():
        payload = r.text.encode("utf-8") or b"\0"
        arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64) / 255.0
        idx = np.linspace(0, len(arr) - 1, n_px).astype(int)
        rows.append(f"({int(r.doc_id)}::BIGINT,{lit_double(qround_py(_fold_sum(arr[idx]), 9))})")
    return (
        "SELECT media_id, 32 AS width, 32 AS height, pix_sum FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, pix_sum)"
    )


@register(
    "mm_resize",
    oracle=lambda: _mm_resize_oracle(),
    tags=("MM-decode", "MM-schema"),
    doc="Resize contract: payload -> fixed 32x32 grid via the stub "
    "nearest-neighbor resampler (real codec slots into the same island). "
    "Oracle = single-node resampler mirror (VALUES golden).",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    grid = MM.resize(media, out_w=32, out_h=32)
    return grid.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        qround(F.expr("aggregate(pixels, 0D, (a, x) -> a + x)"), 9).alias("pix_sum"),
    )


def _doc_pixels(text: str):
    """Deterministic doc→image spec shared by the engine island and the
    oracle mirror: UTF-8 bytes, truncated to 64 rows of 16×3, zero-padded to
    whole rows, reshaped (h, 16, 3) uint8."""
    import numpy as np

    b = text.encode("utf-8")[: 64 * 48]
    b = b + b"\0" * ((-len(b)) % 48)
    if not b:
        b = b"\0" * 48
    return np.frombuffer(b, dtype=np.uint8).reshape(len(b) // 48, 16, 3)


def _mm_png_oracle() -> str:
    """Mirror that never touches PNG: builds the same pixel array directly
    and computes the same channel statistics — so the engine's
    encode→decode round trip through the stdlib codec is what's on trial."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        img = _doc_pixels(r.text).astype(np.float64) / 255.0
        h, w, _ = img.shape
        means, stds = img.mean(axis=(0, 1)), img.std(axis=(0, 1))
        f = [*means, *stds, h / 1000.0, w / 1000.0]
        rows.append(
            f"({int(r.doc_id)}::BIGINT,"
            + ",".join(f"{lit_double(qround_py(float(x), 9))}" for x in f)
            + ")"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, f0, f1, f2, f3, f4, f5, f6, f7)"
    )


@register(
    "mm_png_real_features",
    oracle=lambda: _mm_png_oracle(),
    tags=("MM-decode", "MM-codec"),
    doc="REAL codec path, driver-verified: per doc, build a deterministic "
    "pixel grid from the text bytes, encode it to PNG in one Arrow island "
    "(pure-stdlib zlib encoder), decode it back through the real-codec "
    "feature island, and emit the channel statistics. The oracle constructs "
    "the same array WITHOUT any PNG — a codec defect anywhere in the "
    "encode→decode round trip hash-mismatches.",
)
def mm_png_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # The encode/decode islands are pure-Python CPU work: spread the docs
    # over every core up front (the small-SF parquet is a single split; at
    # real scale the scan is already wide and AQE coalesces the exchange).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                img = _doc_pixels(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_png(img)),
                        "meta": {
                            "mime": "image/png",
                            "width": 16,
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media, use_real_codecs=True)
    return feats.select(
        "media_id",
        *[qround(F.col("feature")[i], 9).alias(f"f{i}") for i in range(8)],
    )


def _doc_samples(text: str):
    """Deterministic doc→audio spec shared by the engine island and the
    oracle mirror: UTF-8 bytes (capped at 2048, padded to ≥2) recentred to
    int16 mono samples at 8 kHz."""
    import numpy as np

    b = text.encode("utf-8")[:2048]
    if len(b) < 2:
        b = b + b"\0" * (2 - len(b))
    return ((np.frombuffer(b, dtype=np.uint8).astype(np.int32) - 128) * 256).astype(
        np.int16
    )


def _mm_wav_oracle() -> str:
    """Mirror that never touches WAV: builds the same int16 samples directly
    and computes the same amplitude statistics — the engine's encode→decode
    round trip through the stdlib wave codec is what's on trial."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        s = _doc_samples(r.text).astype(np.float64) / 32768.0
        zc = float(np.mean(np.abs(np.diff(np.signbit(s).astype(np.int8)))))
        f = [s.mean(), s.std(), float(np.sqrt(np.mean(s * s))), zc,
             s.min(), s.max(), len(s) / 8000.0, 8000.0 / 48000.0]
        rows.append(
            f"({int(r.doc_id)}::BIGINT,"
            + ",".join(f"{lit_double(qround_py(float(x), 9))}" for x in f)
            + ")"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, f0, f1, f2, f3, f4, f5, f6, f7)"
    )


@register(
    "mm_wav_real_features",
    oracle=lambda: _mm_wav_oracle(),
    tags=("MM-decode", "MM-codec", "MM-audio"),
    doc="REAL audio codec path, driver-verified (the WAV twin of "
    "mm_png_real_features): per doc, build deterministic int16 samples from "
    "the text bytes, encode to WAV in one Arrow island (stdlib wave), decode "
    "back through the real-codec feature island, and emit amplitude/energy/"
    "zero-crossing/duration statistics. The oracle constructs the same "
    "samples WITHOUT any WAV — a codec defect anywhere in the round trip "
    "hash-mismatches.",
)
def mm_wav_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # The encode/decode islands are pure-Python CPU work: spread the docs
    # over every core up front (the small-SF parquet is a single split; at
    # real scale the scan is already wide and AQE coalesces the exchange).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                samples = _doc_samples(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_wav(samples, rate=8000)),
                        "meta": {
                            "mime": "audio/wav",
                            "width": 0,
                            "height": 0,
                            "n_frames": int(len(samples)),
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media, use_real_codecs=True)
    return feats.select(
        "media_id",
        *[qround(F.col("feature")[i], 9).alias(f"f{i}") for i in range(8)],
    )


def _doc_tiles(text: str):
    """Deterministic doc→8×8-mosaic spec shared by the engine island and
    the oracle mirror: UTF-8 bytes (capped at 64, zero-padded to rows of 4
    tiles) become 8×8-constant grayscale tiles, 4 across → (h, 32) uint8.
    On a block-constant image baseline JPEG at quality 90 is BIT-EXACT:
    every AC coefficient is mathematically zero (quantizes to 0) and the
    DC quantization error (≤ q/2 = 1.5) spreads as < 0.19 per pixel, under
    the 0.5 rounding threshold — so a no-codec mirror can rebuild the
    decoded pixels exactly."""
    import numpy as np

    b = text.encode("utf-8")[:64]
    b = b + b"\0" * ((-len(b)) % 4)
    if not b:
        b = b"\0" * 4
    tiles = np.frombuffer(b, dtype=np.uint8).reshape(len(b) // 4, 4)
    return np.repeat(np.repeat(tiles, 8, axis=0), 8, axis=1)


def _mm_jpeg_oracle() -> str:
    """Mirror that never touches JPEG: rebuilds the mosaic directly and
    replays the engine island's exact numpy reductions on the decoder's
    (h, w, 1) output shape (1-channel mean/std edge-padded to 3)."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        img = _doc_tiles(r.text)[:, :, None].astype(np.float64) / 255.0
        h, w, _ = img.shape
        means = np.pad(img.mean(axis=(0, 1)), (0, 2), mode="edge")
        stds = np.pad(img.std(axis=(0, 1)), (0, 2), mode="edge")
        f = [*means, *stds, h / 1000.0, w / 1000.0]
        rows.append(
            f"({int(r.doc_id)}::BIGINT,"
            + ",".join(f"{lit_double(qround_py(float(x), 9))}" for x in f)
            + ")"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, f0, f1, f2, f3, f4, f5, f6, f7)"
    )


@register(
    "mm_jpeg_real_features",
    oracle=lambda: _mm_jpeg_oracle(),
    tags=("MM-decode", "MM-codec"),
    doc="REAL baseline-JPEG codec path, driver-verified (the JPEG twin of "
    "mm_png_real_features - JPEG is the image format a crawl pipeline hits "
    "first): per doc, build a deterministic 8x8-constant mosaic from the "
    "text bytes, encode it to baseline JFIF in one Arrow island (pure "
    "huffman+DCT encoder, operators/codecs.py), decode it back through the "
    "real-codec feature island, and emit the channel statistics. Block-"
    "constant mosaics round-trip BIT-EXACTLY through baseline JPEG at "
    "quality 90, so the oracle rebuilds the same pixels WITHOUT any JPEG - "
    "a defect anywhere in the DCT/quantizer/Huffman round trip "
    "hash-mismatches. Lossy behavior on general images is pytest-covered "
    "via PSNR bounds.",
)
def mm_jpeg_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # The encode/decode islands are pure-Python CPU work: spread the docs
    # over every core up front (the small-SF parquet is a single split; at
    # real scale the scan is already wide and AQE coalesces the exchange).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                img = _doc_tiles(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_jpeg(img, quality=90)),
                        "meta": {
                            "mime": "image/jpeg",
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media, use_real_codecs=True)
    return feats.select(
        "media_id",
        *[qround(F.col("feature")[i], 9).alias(f"f{i}") for i in range(8)],
    )


def _doc_gray(text: str):
    """Deterministic doc→grayscale spec shared by the engine island and the
    oracle mirror: UTF-8 bytes, truncated to 48 rows of width 24, zero-padded
    to whole rows, reshaped (h, 24) uint8."""
    import numpy as np

    b = text.encode("utf-8")[: 48 * 24]
    b = b + b"\0" * ((-len(b)) % 24)
    if not b:
        b = b"\0" * 24
    return np.frombuffer(b, dtype=np.uint8).reshape(len(b) // 24, 24)


def _mm_gif_oracle() -> str:
    """Mirror that never touches GIF: builds the same (h, w, 3) uint8 array
    the decoder emits (grayscale palette → three identical channels) and
    replays the engine's EXACT numpy reductions — ``img.mean(axis=(0, 1))``
    / ``img.std(axis=(0, 1))`` on the stacked array, not ``g.mean()`` on the
    2-D plane. The two are mathematically equal but not bit-identical
    (different reduction order, ~1e-15 drift), and a doc landing within an
    ulp of a 0.5e-9 rounding boundary would hash-mismatch; replaying the
    identical array shape and numpy call (as _mm_png_oracle does) keeps the
    mirror bit-exact. The LZW encode→decode round trip is on trial."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        g8 = _doc_gray(r.text)
        img = np.stack([g8, g8, g8], axis=2).astype(np.float64) / 255.0
        h, w, _ = img.shape
        means = img.mean(axis=(0, 1))
        stds = img.std(axis=(0, 1))
        f = [*means, *stds, h / 1000.0, w / 1000.0]
        rows.append(
            f"({int(r.doc_id)}::BIGINT,"
            + ",".join(f"{lit_double(qround_py(float(x), 9))}" for x in f)
            + ")"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, f0, f1, f2, f3, f4, f5, f6, f7)"
    )


@register(
    "mm_gif_real_features",
    oracle=lambda: _mm_gif_oracle(),
    tags=("MM-decode", "MM-codec"),
    doc="REAL GIF codec path, driver-verified (the LZW sibling of "
    "mm_png_real_features): per doc, build a deterministic grayscale grid "
    "from the text bytes, encode it to GIF89a in one Arrow island "
    "(pure-stdlib variable-width LZW, operators/codecs.py), decode it back "
    "through the real-codec feature island, and emit the channel "
    "statistics. The oracle constructs the same array WITHOUT any GIF — a "
    "defect anywhere in the LZW round trip hash-mismatches.",
)
def mm_gif_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # The encode/decode islands are pure-Python CPU work: spread the docs
    # over every core up front (the small-SF parquet is a single split; at
    # real scale the scan is already wide and AQE coalesces the exchange).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                g = _doc_gray(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_gif(g)),
                        "meta": {
                            "mime": "image/gif",
                            "width": 24,
                            "height": int(g.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media, use_real_codecs=True)
    return feats.select(
        "media_id",
        *[qround(F.col("feature")[i], 9).alias(f"f{i}") for i in range(8)],
    )


def _mm_resize_real_oracle() -> str:
    """Mirror of the REAL resize island: rebuild the decoder's (h, w, 3)
    array with no codec and replay the engine's EXACT reduction — fancy-index
    then ``.mean(axis=2)`` channel-mean on the 3-channel array, not the bare
    2-D plane (``(x+x+x)/3`` can differ from ``x`` by an ulp) — then the same
    left-fold sum."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    out_w, out_h = 16, 8
    for r in docs.itertuples():
        g8 = _doc_gray(r.text)
        img = np.stack([g8, g8, g8], axis=2).astype(np.float64) / 255.0
        h, w, _ = img.shape
        ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
        xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
        grid = img[np.ix_(ys, xs)].mean(axis=2).ravel()
        rows.append(
            f"({int(r.doc_id)}::BIGINT,{lit_double(qround_py(_fold_sum(grid), 9))})"
        )
    return (
        f"SELECT media_id, {out_w} AS width, {out_h} AS height, pix_sum FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, pix_sum)"
    )


@register(
    "mm_resize_real",
    oracle=lambda: _mm_resize_real_oracle(),
    tags=("MM-decode", "MM-codec", "MM-schema"),
    doc="REAL-codec resize, driver-verified: doc bytes -> grayscale grid -> "
    "GIF encode -> true 2-D nearest-neighbor resample on DECODED pixels "
    "(channel-mean grayscale) -> 16x8 grid. The oracle rebuilds the plane "
    "and index math with no codec, so both the LZW round trip and the "
    "resampler's index arithmetic are on trial.",
)
def mm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                g = _doc_gray(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_gif(g)),
                        "meta": {
                            "mime": "image/gif",
                            "width": 24,
                            "height": int(g.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    grid = MM.resize(media, out_w=16, out_h=8, use_real_codecs=True)
    return grid.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        qround(F.expr("aggregate(pixels, 0D, (a, x) -> a + x)"), 9).alias("pix_sum"),
    )


_GIF_N_FRAMES = 4
_GIF_FRAME_H, _GIF_FRAME_W = 6, 16


def _doc_gif_frames(text: str):
    """Deterministic doc→animation spec shared by the engine island and the
    oracle mirror: UTF-8 bytes, zero-padded to 4 frames of 6×16 uint8."""
    import numpy as np

    n_bytes = _GIF_N_FRAMES * _GIF_FRAME_H * _GIF_FRAME_W
    b = text.encode("utf-8")[:n_bytes]
    b = b + b"\0" * (n_bytes - len(b))
    return np.frombuffer(b, dtype=np.uint8).reshape(
        _GIF_N_FRAMES, _GIF_FRAME_H, _GIF_FRAME_W
    )


def _mm_gif_frames_oracle() -> str:
    """Mirror for the animated-GIF frame sampler: rebuild the decoder's
    (n, h, w, 3) uint8 stack without any GIF and replay the engine's EXACT
    reductions — ``frames[fi].mean(axis=2)`` grayscale plane first, then the
    plane statistics — so the mirror stays bit-identical to the island
    (every-2nd-frame sampling)."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        f8 = _doc_gif_frames(r.text)
        frames = np.stack([f8, f8, f8], axis=3).astype(np.float64) / 255.0
        for fi in range(0, _GIF_N_FRAMES, 2):
            g = frames[fi].mean(axis=2)
            f = [
                float(g.mean()),
                float(g.std()),
                float(g.min()),
                float(g.max()),
                _GIF_FRAME_H / 1000.0,
                _GIF_FRAME_W / 1000.0,
                fi / 1000.0,
                _GIF_N_FRAMES / 1000.0,
            ]
            rows.append(
                f"({int(r.doc_id)}::BIGINT,{fi}::INTEGER,"
                + ",".join(f"{lit_double(qround_py(float(x), 9))}" for x in f)
                + ")"
            )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, frame_idx, f0, f1, f2, f3, f4, f5, f6, f7)"
    )


@register(
    "mm_gif_frame_sample",
    oracle=lambda: _mm_gif_frames_oracle(),
    tags=("MM-decode", "MM-codec", "MM-video"),
    doc="REAL multi-frame decode, driver-verified: per doc, build a "
    "deterministic 4-frame 6×16 animation, encode it as one animated GIF89a "
    "(repeated image blocks, shared LZW table resets), then frame-sample "
    "every 2nd frame through the real-codec island — the media→frames row "
    "explosion with an actual container decode, as close to the video "
    "contract as a no-ffmpeg environment permits. Oracle rebuilds the frame "
    "planes without any GIF.",
)
def mm_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # The encode/decode islands are pure-Python CPU work: spread the docs
    # over every core up front (the small-SF parquet is a single split; at
    # real scale the scan is already wide and AQE coalesces the exchange).
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = _doc_gif_frames(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_gif(list(frames))),
                        "meta": {
                            "mime": "image/gif",
                            "width": _GIF_FRAME_W,
                            "height": _GIF_FRAME_H,
                            "n_frames": _GIF_N_FRAMES,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    sampled = MM.frame_sample(media, every_n=2, use_real_codecs=True)
    return sampled.select(
        "media_id",
        "frame_idx",
        *[qround(F.col("feature")[i], 9).alias(f"f{i}") for i in range(8)],
    )


_AVI_N_FRAMES = 6
_AVI_FRAME_H, _AVI_FRAME_W = 8, 20


def _doc_avi_frames(text: str):
    """Deterministic doc→video spec shared by the engine island and the
    oracle mirror: UTF-8 bytes, zero-padded to 6 frames of 8×20 uint8."""
    import numpy as np

    n_bytes = _AVI_N_FRAMES * _AVI_FRAME_H * _AVI_FRAME_W
    b = text.encode("utf-8")[:n_bytes]
    b = b + b"\0" * (n_bytes - len(b))
    return np.frombuffer(b, dtype=np.uint8).reshape(
        _AVI_N_FRAMES, _AVI_FRAME_H, _AVI_FRAME_W
    )


def _mm_avi_frames_oracle() -> str:
    """Mirror for the AVI frame sampler: rebuild the decoder's (n, h, w, 3)
    uint8 stack without any AVI/RLE8 and replay the engine's exact
    reductions (``frames[fi].mean(axis=2)`` plane first, then plane stats),
    every-3rd-frame sampling."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        f8 = _doc_avi_frames(r.text)
        frames = np.stack([f8, f8, f8], axis=3).astype(np.float64) / 255.0
        for fi in range(0, _AVI_N_FRAMES, 3):
            g = frames[fi].mean(axis=2)
            f = [
                float(g.mean()),
                float(g.std()),
                float(g.min()),
                float(g.max()),
                _AVI_FRAME_H / 1000.0,
                _AVI_FRAME_W / 1000.0,
                fi / 1000.0,
                _AVI_N_FRAMES / 1000.0,
            ]
            rows.append(
                f"({int(r.doc_id)}::BIGINT,{fi}::INTEGER,"
                + ",".join(f"{lit_double(qround_py(float(x), 9))}" for x in f)
                + ")"
            )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, frame_idx, f0, f1, f2, f3, f4, f5, f6, f7)"
    )


@register(
    "mm_avi_frame_sample",
    oracle=lambda: _mm_avi_frames_oracle(),
    tags=("MM-decode", "MM-codec", "MM-video"),
    doc="REAL VIDEO decode, driver-verified — the last multimodal stub "
    "closed: per doc, build a deterministic 6-frame 8×20 clip, encode it as "
    "a true AVI (RIFF hdrl/movi/idx1 container, frames compressed with the "
    "real MS-RLE8 'mrle' video codec — runs, word-aligned absolute mode, "
    "EOL/EOB escapes, bottom-up DIB rows; operators/codecs.py), then "
    "frame-sample every 3rd frame through the real-codec island. The "
    "oracle rebuilds the frame planes with no container or codec, so the "
    "RIFF walk and the RLE8 round trip are both on trial. Reference "
    "contract: the frame-sampling shape of mm_frame_sample.",
)
def mm_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = _doc_avi_frames(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_avi_rle8(frames)),
                        "meta": {
                            "mime": "video/x-msvideo",
                            "width": _AVI_FRAME_W,
                            "height": _AVI_FRAME_H,
                            "n_frames": _AVI_N_FRAMES,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    sampled = MM.frame_sample(media, every_n=3, use_real_codecs=True)
    return sampled.select(
        "media_id",
        "frame_idx",
        *[qround(F.col("feature")[i], 9).alias(f"f{i}") for i in range(8)],
    )


@register(
    "stream_join_attrib",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id,
           CAST(floor(date_diff('second', v.ts, p.ts) / 60.0) AS BIGINT) AS gap_min
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 2 HOUR AND v.ts <= p.ts
    """,
    tags=("STREAM", "J-range"),
    doc="Stream-stream interval join (attribution): purchases join the same "
    "user's views from the preceding 2 h. Watermarks on both sides plus the "
    "two-sided time bound give bounded state; AvailableNow replay of the "
    "identical plan must reproduce the batch interval join bit-for-bit.",
)
def stream_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_attribution_join

    result = stream_attribution_join(spark, sf_dir)
    name = run_available_now(result, "stream_attrib", output_mode="append", state_partitions=SSP(sf_dir))
    return spark.table(name)


@register(
    "stream_zjoin_incidents",
    oracle="""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id,
           p.user_id AS user_id,
           CAST(floor(date_diff('second', e.ts, p.ts) / 60.0) AS BIGINT)
             AS offset_min
    FROM events p JOIN events e
      ON p.user_id = e.user_id
     AND p.event_type = 'purchase' AND e.event_type = 'error'
     AND p.ts >= e.ts - INTERVAL 30 MINUTE AND p.ts <= e.ts + INTERVAL 90 MINUTE
    """,
    tags=("STREAM", "J-range"),
    doc="Two-sided stream-stream inequality (z-) join: purchases match the "
    "same user's error events whose incident window [e_ts-30m, e_ts+90m] "
    "contains the purchase — the purchase may PRECEDE the error or follow "
    "it (asymmetric slack), vs stream_join_attrib's one-sided "
    "views-strictly-before-purchase band. Watermarks on both sides plus "
    "the two-direction bound on p_ts - e_ts give bounded state; the "
    "signed gap floor-divides to minutes (truncation would round -90 s "
    "to -1, the oracle's floor says -2). AvailableNow replay of the "
    "identical plan must reproduce the batch band join bit-for-bit.",
)
def stream_zjoin_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_overlap_zjoin

    result = stream_overlap_zjoin(spark, sf_dir)
    name = run_available_now(result, "stream_zjoin", output_mode="append", state_partitions=SSP(sf_dir))
    return spark.table(name)


@register(
    "stream_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts, 1) OVER w IS NULL
                       OR date_diff('microsecond', lag(ts, 1) OVER w, ts)
                          >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM e
    )
    SELECT CAST(user_id AS VARCHAR) AS series_id,
           min(ts) AS session_start,
           count(*) AS n_events,
           CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(27,6))) AS DOUBLE)
             AS session_value
    FROM s GROUP BY user_id, session_no
    """,
    tags=("STREAM", "W5"),
    doc="Streaming sessionization (session_window + watermark): per-user "
    "30-min-gap sessions merged incrementally, state evicted at watermark "
    "close. Oracle is the batch gaps-and-islands with the same half-open "
    "gap semantics (gap >= 30 min starts a new session, in exact "
    "MICROSECOND arithmetic — session_window merges [ts, ts+gap) intervals, "
    "so a floored-epoch-seconds oracle splits one session session_window "
    "merges whenever sub-second parts straddle the boundary).",
)
def stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_sessions as ss

    result = ss(spark, sf_dir)
    name = run_available_now(result, "stream_sessions", output_mode="complete", state_partitions=SSP(sf_dir))
    return spark.table(name)


def _stream_theta_oracle() -> str:
    from ..functions.rng import M as _M
    from ..functions.rng import rng_draw_sql
    from ..streaming.stateful import STREAM_THETA_K, STREAM_THETA_SALT

    k = STREAM_THETA_K
    draw = rng_draw_sql("user_id", salt=STREAM_THETA_SALT)
    return f"""
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, user_id
      FROM events
    ),
    h AS (SELECT DISTINCT window_start, {draw} AS th FROM d),
    rk AS (
      SELECT window_start, th,
             row_number() OVER (PARTITION BY window_start ORDER BY th) AS rn
      FROM h
    ),
    sk AS (
      SELECT window_start, CAST(count(*) AS BIGINT) AS n_sketch,
             max(th) AS kth
      FROM rk WHERE rn <= {k} GROUP BY 1
    ),
    ev AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n_events FROM d GROUP BY 1)
    SELECT e.window_start, e.n_events, s.n_sketch,
           CASE WHEN s.n_sketch < {k} THEN CAST(s.n_sketch AS DOUBLE)
                ELSE CAST({(k - 1) * _M} AS DOUBLE) / CAST(s.kth AS DOUBLE) END AS n_est
    FROM ev e JOIN sk s USING (window_start)
    """


@register(
    "stream_theta_users",
    oracle=_stream_theta_oracle,
    tags=("STREAM", "A-sketch", "TXT-tokens"),
    doc="Streaming KMV (theta) distinct sketch: tumbling 1-day windows of "
    "approximate distinct users via applyInPandasWithState holding the K "
    "smallest scrambled user hashes per window - state is O(K) per window "
    "regardless of cardinality (collect_set grows with distinct users; "
    "HLL is not cross-engine replayable). The KMV merge property makes "
    "the final state identical under ANY micro-batch slicing, so even the "
    "estimates hash-verify against the batch SQL replay. The complete row "
    "per window (final n_events) is selected with one combinable "
    "struct-max - no window function.",
)
def stream_theta_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_events
    from ..streaming.stateful import stream_theta_users as stu

    s = stream_events(spark, sf_dir)
    out = stu(s)
    # Python-stateful: keep session partitioning (see stream_ewma_control)
    name = run_available_now(out, "stream_theta", output_mode="append")
    t = spark.table(name)
    m = t.groupBy("window_start").agg(
        F.max(F.struct("n_events", "n_sketch", "n_est")).alias("m")
    )
    return m.select(
        "window_start",
        F.col("m.n_events").alias("n_events"),
        F.col("m.n_sketch").alias("n_sketch"),
        F.col("m.n_est").alias("n_est"),
    )


_AHASH_WINDOW = 8  # sorted-neighborhood span within a (band, value) bucket


def _mm_ahash_oracle() -> str:
    """Mirror that never touches PNG: builds the same pixel grid directly
    and derives the same 4×16-bit average-hash bands; DuckDB itself then
    re-runs the banded candidate join and the Hamming arithmetic — the
    engine's encode→decode round trip AND its pair logic are both on
    trial."""
    from ..operators.multimodal import ahash_bands

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        b0, b1, b2, b3 = ahash_bands(_doc_pixels(r.text))
        rows.append(f"({int(r.doc_id)}::BIGINT,{b0},{b1},{b2},{b3})")
    ham = " + ".join(f"bit_count(xor(ha.b{k}, hb.b{k}))" for k in range(4))
    return f"""
    WITH h(media_id, b0, b1, b2, b3) AS (VALUES {",".join(rows)}),
    bands AS (
      SELECT media_id, k AS band_id,
             CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM h, (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    ranked AS (
      SELECT media_id, band_id, bv,
             row_number() OVER (PARTITION BY band_id, bv ORDER BY media_id) AS rk
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS ida, b.media_id AS idb
      FROM ranked a JOIN ranked b
        ON a.band_id = b.band_id AND a.bv = b.bv
       AND b.rk - a.rk BETWEEN 1 AND {_AHASH_WINDOW}
    )
    SELECT ida, idb, CAST({ham} AS INTEGER) AS hamming,
           ({ham} <= 6) AS is_near
    FROM cand JOIN h ha ON ha.media_id = ida JOIN h hb ON hb.media_id = idb
    """


@register(
    "mm_ahash_near_dup",
    oracle=_mm_ahash_oracle,
    tags=("MM-codec", "DEDUP-simhash", "J5"),
    doc="Image near-dup via 8x8 average-hash over the REAL PNG round trip: "
    "each doc's pixel grid encodes to PNG and decodes back through the "
    "stdlib codec inside Arrow islands, hashes to 4x16-bit aHash bands "
    "(integer-exact: 64*g > sum, no division), and candidate pairs form "
    "ONLY on band equality (the SimHash trick applied to images - never "
    "all-pairs) before the exact Hamming check. The oracle mirror builds "
    "the same grid without PNG and DuckDB re-runs the band join and "
    "Hamming arithmetic itself.",
)
def mm_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def enc(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                img = _doc_pixels(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_png(img)),
                        "meta": {
                            "mime": "image/png",
                            "width": 16,
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    def hash_island(batches):
        from ..operators import codecs as CX
        from ..operators.multimodal import ahash_bands

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b0, b1, b2, b3 = ahash_bands(CX.decode_png(bytes(payload)))
                out.append(
                    {"media_id": int(mid), "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(enc, schema=MM.MEDIA_SCHEMA)
    hashes = media.mapInPandas(
        hash_island, schema="media_id long, b0 int, b1 int, b2 int, b3 int"
    )
    bands = hashes.select(
        "media_id", F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band_id", "bv")
    )
    # sorted-neighborhood pairing bounds hot buckets: pairs per (band,
    # value) grow linearly (window * members), never quadratically — the
    # ×10 docs step stays ~×10 pairs instead of the ×100 an uncapped
    # band self-join showed at sf0.1
    from pyspark.sql import Window as W

    wspec = W.partitionBy("band_id", "bv").orderBy("media_id")
    ranked = bands.withColumn("rk", F.row_number().over(wspec))
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("b.rk") - F.col("a.rk")).between(1, _AHASH_WINDOW),
        )
        .select(F.col("a.media_id").alias("ida"), F.col("b.media_id").alias("idb"))
        .distinct()
    )
    ha = hashes.select(F.col("media_id").alias("ida"), *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)])
    hb = hashes.select(F.col("media_id").alias("idb"), *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)])
    ham = None
    for k in range(4):
        term = F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}")))
        ham = term if ham is None else ham + term
    return (
        cand.join(ha, "ida")
        .join(hb, "idb")
        .select(
            "ida",
            "idb",
            ham.cast("int").alias("hamming"),
            (ham <= F.lit(6)).alias("is_near"),
        )
    )


def _mm_phash_oracle() -> str:
    """Mirror that never touches JPEG: rebuilds the block-constant mosaic
    (bit-exact through baseline JPEG at q90, the mm_jpeg_real_features
    argument) and derives the same 4×16-bit pHash bands via the shared
    kernel; DuckDB itself re-runs the banded candidate join and the Hamming
    arithmetic — the codec round trip AND the pair logic are both on
    trial."""
    from ..operators.multimodal import phash_bands

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        b0, b1, b2, b3 = phash_bands(_doc_tiles(r.text))
        rows.append(f"({int(r.doc_id)}::BIGINT,{b0},{b1},{b2},{b3})")
    ham = " + ".join(f"bit_count(xor(ha.b{k}, hb.b{k}))" for k in range(4))
    return f"""
    WITH h(media_id, b0, b1, b2, b3) AS (VALUES {",".join(rows)}),
    bands AS (
      SELECT media_id, k AS band_id,
             CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM h, (SELECT unnest([0, 1, 2, 3]) AS k)
    ),
    ranked AS (
      SELECT media_id, band_id, bv,
             row_number() OVER (PARTITION BY band_id, bv ORDER BY media_id) AS rk
      FROM bands
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS ida, b.media_id AS idb
      FROM ranked a JOIN ranked b
        ON a.band_id = b.band_id AND a.bv = b.bv
       AND b.rk - a.rk BETWEEN 1 AND {_AHASH_WINDOW}
    )
    SELECT ida, idb, CAST({ham} AS INTEGER) AS hamming,
           ({ham} <= 6) AS is_near
    FROM cand JOIN h ha ON ha.media_id = ida JOIN h hb ON hb.media_id = idb
    """


@register(
    "mm_phash_near_dup",
    oracle=_mm_phash_oracle,
    tags=("MM-codec", "DEDUP-simhash", "J5"),
    doc="Image near-dup via 64-bit DCT perceptual hash over the REAL JPEG "
    "round trip: each doc's block-constant mosaic encodes to baseline "
    "JFIF and decodes back through the stdlib huffman+DCT codec inside "
    "Arrow islands, hashes to 4x16-bit pHash bands (the codec's own 8x8 "
    "DCT basis applied to a 32x32->8x8 block-averaged luma grid, bits "
    "against the exact AC median - the frequency-domain complement of "
    "mm_ahash_near_dup), and candidate pairs form ONLY on band equality "
    "with sorted-neighborhood rank capping (never all-pairs) before the "
    "exact Hamming check. Block-constant mosaics round-trip bit-exactly "
    "through q90 baseline JPEG, so the oracle rebuilds the same pixels "
    "WITHOUT any JPEG and replays the band join + Hamming itself.",
)
def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def enc(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                img = _doc_tiles(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_jpeg(img, quality=90)),
                        "meta": {
                            "mime": "image/jpeg",
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    def hash_island(batches):
        from ..operators import codecs as CX
        from ..operators.multimodal import phash_bands

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b0, b1, b2, b3 = phash_bands(CX.decode_jpeg(bytes(payload)))
                out.append(
                    {"media_id": int(mid), "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(enc, schema=MM.MEDIA_SCHEMA)
    # three consumers (band explode + both Hamming sides) would re-run the
    # JPEG encode→decode islands 3× without a lineage cut; the hash frame
    # is skinny (id + four 16-bit ints), so the checkpoint is kilobytes
    hashes = media.mapInPandas(
        hash_island, schema="media_id long, b0 int, b1 int, b2 int, b3 int"
    ).localCheckpoint(eager=True)
    bands = hashes.select(
        "media_id", F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band_id", "bv")
    )
    from pyspark.sql import Window as W

    wspec = W.partitionBy("band_id", "bv").orderBy("media_id")
    ranked = bands.withColumn("rk", F.row_number().over(wspec))
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("b.rk") - F.col("a.rk")).between(1, _AHASH_WINDOW),
        )
        .select(F.col("a.media_id").alias("ida"), F.col("b.media_id").alias("idb"))
        .distinct()
    )
    ha = hashes.select(F.col("media_id").alias("ida"), *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)])
    hb = hashes.select(F.col("media_id").alias("idb"), *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)])
    ham = None
    for k in range(4):
        term = F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}")))
        ham = term if ham is None else ham + term
    return (
        cand.join(ha, "ida")
        .join(hb, "idb")
        .select(
            "ida",
            "idb",
            ham.cast("int").alias("hamming"),
            (ham <= F.lit(6)).alias("is_near"),
        )
    )


def _mm_phash_multires_oracle() -> str:
    """No-JPEG mirror (the _mm_phash_oracle argument extended): rebuild the
    mosaics, derive BOTH resolutions' bands via the shared kernels, and let
    DuckDB replay the two-channel candidate union + both Hamming sums."""
    from ..operators.multimodal import phash_bands, phash_coarse_band

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        img = _doc_tiles(r.text)
        b0, b1, b2, b3 = phash_bands(img)
        cb = phash_coarse_band(img)
        rows.append(f"({int(r.doc_id)}::BIGINT,{b0},{b1},{b2},{b3},{cb})")
    hamf = " + ".join(f"bit_count(xor(ha.b{k}, hb.b{k}))" for k in range(4))
    hamc = "bit_count(xor(ha.cb, hb.cb))"
    return f"""
    WITH h(media_id, b0, b1, b2, b3, cb) AS (VALUES {",".join(rows)}),
    bands AS (
      SELECT media_id, k AS band_id,
             CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
                    WHEN 3 THEN b3 ELSE cb END AS bv
      FROM h, (SELECT unnest([0, 1, 2, 3, 4]) AS k)
    ),
    ranked AS (
      SELECT media_id, band_id, bv,
             row_number() OVER (PARTITION BY band_id, bv ORDER BY media_id) AS rk
      FROM bands
    ),
    cand AS (
      SELECT a.media_id AS ida, b.media_id AS idb,
             bool_or(a.band_id < 4) AS via_fine,
             bool_or(a.band_id = 4) AS via_coarse
      FROM ranked a JOIN ranked b
        ON a.band_id = b.band_id AND a.bv = b.bv
       AND b.rk - a.rk BETWEEN 1 AND {_AHASH_WINDOW}
      GROUP BY 1, 2
    )
    SELECT ida, idb, CAST({hamf} AS INTEGER) AS hamming_fine,
           CAST({hamc} AS INTEGER) AS hamming_coarse,
           via_fine, via_coarse,
           ({hamf} <= 6) AS is_near
    FROM cand JOIN h ha ON ha.media_id = ida JOIN h hb ON hb.media_id = idb
    """


@register(
    "mm_phash_multires",
    oracle=_mm_phash_multires_oracle,
    tags=("MM-codec", "DEDUP-simhash", "J5"),
    doc="Multi-resolution pHash near-dup over the REAL JPEG round trip: "
    "each decoded mosaic hashes at TWO grid scales - the standard 32x32->"
    "8x8 DCT (four 16-bit bands) plus a coarse 16x16->4x4 DCT single band "
    "that sees only global structure - and candidate pairs form on band "
    "equality in EITHER channel (sorted-neighborhood rank-capped in each, "
    "never all-pairs), tagged with which channel found them before the "
    "exact fine+coarse Hamming verify. The coarse channel is the recall "
    "path: a global perturbation can flip a bit in all four fine bands "
    "yet leave the 4x4 spectrum intact, and such pairs are invisible to "
    "mm_phash_near_dup by construction. Same no-JPEG mirror argument as "
    "the single-scale query: block-constant mosaics round-trip bit-"
    "exactly through q90 baseline JPEG, so the oracle rebuilds the "
    "pixels codec-free and replays both band joins and both Hamming "
    "sums itself.",
)
def mm_phash_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def enc(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                img = _doc_tiles(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_jpeg(img, quality=90)),
                        "meta": {
                            "mime": "image/jpeg",
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    def hash_island(batches):
        from ..operators import codecs as CX
        from ..operators.multimodal import phash_bands, phash_coarse_band

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = CX.decode_jpeg(bytes(payload))
                b0, b1, b2, b3 = phash_bands(img)
                out.append(
                    {
                        "media_id": int(mid),
                        "b0": b0,
                        "b1": b1,
                        "b2": b2,
                        "b3": b3,
                        "cb": phash_coarse_band(img),
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(enc, schema=MM.MEDIA_SCHEMA)
    # skinny hash frame checkpointed once: three consumers (band explode +
    # both Hamming sides) must not re-run the JPEG islands (the
    # mm_phash_near_dup lineage-cut discipline)
    hashes = media.mapInPandas(
        hash_island,
        schema="media_id long, b0 int, b1 int, b2 int, b3 int, cb int",
    ).localCheckpoint(eager=True)
    bands = hashes.select(
        "media_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3", "cb")).alias("band_id", "bv"),
    )
    from pyspark.sql import Window as W

    wspec = W.partitionBy("band_id", "bv").orderBy("media_id")
    ranked = bands.withColumn("rk", F.row_number().over(wspec))
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("b.rk") - F.col("a.rk")).between(1, _AHASH_WINDOW),
        )
        .groupBy(
            F.col("a.media_id").alias("ida"), F.col("b.media_id").alias("idb")
        )
        .agg(
            F.bool_or(F.col("a.band_id") < 4).alias("via_fine"),
            F.bool_or(F.col("a.band_id") == 4).alias("via_coarse"),
        )
    )
    ha = hashes.select(
        F.col("media_id").alias("ida"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)],
        F.col("cb").alias("ca"),
    )
    hb = hashes.select(
        F.col("media_id").alias("idb"),
        *[F.col(f"b{k}").alias(f"c{k}") for k in range(4)],
        F.col("cb").alias("cc"),
    )
    hamf = None
    for k in range(4):
        term = F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"c{k}")))
        hamf = term if hamf is None else hamf + term
    hamc = F.bit_count(F.col("ca").bitwiseXOR(F.col("cc")))
    return (
        cand.join(ha, "ida")
        .join(hb, "idb")
        .select(
            "ida",
            "idb",
            hamf.cast("int").alias("hamming_fine"),
            hamc.cast("int").alias("hamming_coarse"),
            "via_fine",
            "via_coarse",
            (hamf <= F.lit(6)).alias("is_near"),
        )
    )


@register(
    "stream_upsert_sink",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM events
    )
    SELECT user_id, event_type, value AS latest_value, ts AS latest_ts,
           CAST(n AS BIGINT) AS n_versions
    FROM r WHERE rn = 1
    """,
    tags=("STREAM", "S6", "P2"),
    doc="Streaming CDC upsert via foreachBatch - the merge-on-write sink "
    "for engines without a lakehouse format: per micro-batch, the batch "
    "pre-compacts to one candidate per key (combinable max_by), ONLY the "
    "touched state buckets are read back (hive partition pruning on "
    "pmod(user_id, 16)), the keep-latest merge is associative on "
    "struct(ts, event_id) so the result is independent of micro-batch "
    "slicing, and dynamic partition overwrite rewrites only touched "
    "buckets. Final state must equal the batch compaction bit-for-bit "
    "(the u_upsert_latest oracle).",
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import stream_upsert_sink as _run

    return _run(spark, sf_dir)


def _mm_silence_oracle() -> str:
    """Mirror that never touches WAV: the same int16 samples and run
    segmentation computed directly — the encode→decode round trip through
    the stdlib wave codec is what's on trial."""
    from ..operators.multimodal import silence_runs

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        n_runs, longest, n_silent = silence_runs(_doc_samples(r.text))
        rows.append(f"({int(r.doc_id)}::BIGINT,{n_runs},{longest},{n_silent})")
    return (
        "SELECT media_id, CAST(n_runs AS INTEGER) AS n_runs,"
        " CAST(longest_run AS INTEGER) AS longest_run,"
        " CAST(n_silent AS INTEGER) AS n_silent FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, n_runs, longest_run, n_silent)"
    )


@register(
    "mm_wav_silence_runs",
    oracle=_mm_silence_oracle,
    tags=("MM-codec", "W5"),
    doc="Audio silence-run segmentation through the REAL WAV round trip - "
    "the pre-transcription trim/split pass: per doc, int16 samples encode "
    "to WAV and decode back through the stdlib codec inside Arrow "
    "islands, then runs of >=4 consecutive samples under the amplitude "
    "threshold are counted (W5 consecutive-run detection applied to "
    "audio). Pure integer comparisons; the oracle mirror builds the same "
    "samples without WAV.",
)
def mm_wav_silence_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def island(batches):
        from ..operators import codecs as CX
        from ..operators.multimodal import silence_runs

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                wav = CX.encode_wav(_doc_samples(text), rate=8000)
                samples, _rate = CX.decode_wav(bytes(wav))
                n_runs, longest, n_silent = silence_runs(samples)
                out.append(
                    {
                        "media_id": int(did),
                        "n_runs": n_runs,
                        "longest_run": longest,
                        "n_silent": n_silent,
                    }
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        island, schema="media_id long, n_runs int, longest_run int, n_silent int"
    )


def _mm_jpeg_resize_oracle() -> str:
    """Mirror of the JPEG-real resize: rebuild the bit-exact decoded mosaic
    (no codec), replay _grid_real's exact reductions on the decoder's
    (h, w, 1) shape — fancy-index then mean(axis=2) over the single channel
    — then the same left-fold sum."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    out_w, out_h = 12, 12
    for r in docs.itertuples():
        img = _doc_tiles(r.text)[:, :, None].astype(np.float64) / 255.0
        h, w, _ = img.shape
        ys = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
        xs = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
        grid = img[np.ix_(ys, xs)].mean(axis=2).ravel()
        rows.append(
            f"({int(r.doc_id)}::BIGINT,{lit_double(qround_py(_fold_sum(grid), 9))})"
        )
    return (
        f"SELECT media_id, {out_w} AS width, {out_h} AS height, pix_sum FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, pix_sum)"
    )


@register(
    "mm_jpeg_resize_real",
    oracle=lambda: _mm_jpeg_resize_oracle(),
    tags=("MM-decode", "MM-codec", "MM-schema"),
    doc="REAL-codec resize through baseline JPEG (the thumbnail pipeline a "
    "crawl runs on its most common image format): 8x8-constant mosaic -> "
    "JFIF encode -> huffman+DCT decode -> true 2-D nearest-neighbor "
    "resample on DECODED pixels -> 12x12 grid. Mosaics round-trip "
    "bit-exactly at quality 90, so the oracle rebuilds the decoded plane "
    "with no codec - both the JPEG round trip and the resampler's index "
    "arithmetic are on trial.",
)
def mm_jpeg_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                img = _doc_tiles(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_jpeg(img, quality=90)),
                        "meta": {
                            "mime": "image/jpeg",
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)
    grid = MM.resize(media, out_w=12, out_h=12, use_real_codecs=True)
    return grid.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        qround(F.expr("aggregate(pixels, 0D, (a, x) -> a + x)"), 9).alias("pix_sum"),
    )


@register(
    "stream_quality_gate",
    oracle=f"""
    WITH base AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
    m AS (
      SELECT source,
             len(toks) AS n_tok,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
             CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'is'))) AS BIGINT) AS n_stop
      FROM base
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN (n_tok >= 10 AND n_tok <= 100000)
                          AND (3 * n_tok <= sum_len AND sum_len <= 10 * n_tok)
                          AND (5 * n_alpha > 4 * n_tok)
                          AND (n_stop >= 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM m GROUP BY 1
    """,
    tags=("STREAM", "TXT-quality", "A14"),
    doc="Streaming ingest quality gate: the Gopher-rule battery applied "
    "per micro-batch over a document file stream, per-source pass "
    "accounting rolled up in streaming state (complete mode; counts are "
    "associative, so the result is micro-batch-slicing-independent and "
    "equals the batch replay - which is exactly what the oracle runs). "
    "The rules are map-only integer arithmetic, so the only state is one "
    "row per source.",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_documents

    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("bigint")
    sum_len = F.expr(
        "aggregate(transform(split(text, ' '), x -> length(x)), 0L, (a, v) -> a + v)"
    )
    stop_arr = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "is")])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("bigint")
    ok = (
        (n_tok >= 10) & (n_tok <= 100000)
        & (3 * n_tok <= sum_len) & (sum_len <= 10 * n_tok)
        & (5 * n_alpha > 4 * n_tok)
        & (n_stop >= 2)
    )
    s = stream_documents(spark, sf_dir)
    agg = s.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias("n_pass"),
    )
    name = run_available_now(agg, "stream_qgate", output_mode="complete", state_partitions=SSP(sf_dir, "documents"))
    return spark.table(name)


def _mm_scene_cuts_oracle() -> str:
    """Mirror for the AVI scene-cut detector: rebuild the decoded frame
    stack with no container/codec (the bit-exact _doc_avi_frames spec) and
    replay the island's exact numpy reductions — same /255, same gray
    plane, same |diff| mean, same threshold compare on the raw double."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        f8 = _doc_avi_frames(r.text)
        frames = np.stack([f8, f8, f8], axis=3).astype(np.float64) / 255.0
        g = frames.mean(axis=3)
        d = np.abs(np.diff(g, axis=0)).mean(axis=(1, 2))
        for fi, dv in enumerate(d, start=1):
            rows.append(
                f"({int(r.doc_id)}::BIGINT,{fi}::INTEGER,"
                f"{lit_double(qround_py(float(dv), 9))},"
                f"{bool(dv > MM.SCENE_CUT_THRESHOLD)})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, frame_idx, frame_diff, is_cut)"
    )


def _avi_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared REAL-AVI media frame for the video queries: per doc, the
    deterministic 6-frame clip encoded as a true RIFF + MS-RLE8 payload
    inside an Arrow island (payloads never leave the executor)."""
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = _doc_avi_frames(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_avi_rle8(frames)),
                        "meta": {
                            "mime": "video/x-msvideo",
                            "width": _AVI_FRAME_W,
                            "height": _AVI_FRAME_H,
                            "n_frames": _AVI_N_FRAMES,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)


@register(
    "mm_avi_scene_cuts",
    oracle=lambda: _mm_scene_cuts_oracle(),
    tags=("MM-decode", "MM-codec", "MM-video"),
    doc="Shot-boundary detection through the REAL video path — the "
    "clip-segmentation primitive of a crawl video pipeline: per doc, the "
    "deterministic 6-frame clip is encoded as a true AVI (RIFF + MS-RLE8) "
    "and every consecutive frame pair is scored with the mean absolute "
    "gray-plane difference inside one Arrow island (operators/"
    "multimodal.scene_cuts); a cut fires where the jump exceeds the "
    "threshold. The oracle rebuilds the frame planes with NO container or "
    "codec and replays the identical numpy reductions, so the RIFF walk, "
    "the RLE8 round trip, and the diff math are all hash-verified. 100 TB "
    "shape: payloads stay executor-side, one row per frame pair, "
    "media-parallel.",
)
def mm_avi_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _avi_media_df(spark, sf_dir)
    cuts = MM.scene_cuts(media)
    return cuts.select(
        "media_id", "frame_idx", qround(F.col("frame_diff"), 9).alias("frame_diff"), "is_cut"
    )


def _mm_motion_energy_oracle() -> str:
    """Mirror for the motion-energy profiler: rebuild the decoded frame
    stack with no container/codec and replay the island's exact numpy
    reductions — same /255, same gray plane, same diff², same first-argmax
    peak — then quantize the two energies on the 1e-9 lattice."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        f8 = _doc_avi_frames(r.text)
        frames = np.stack([f8, f8, f8], axis=3).astype(np.float64) / 255.0
        g = frames.mean(axis=3)
        d = np.diff(g, axis=0)
        e = (d * d).mean(axis=(1, 2))
        peak = int(np.argmax(e)) if len(e) else 0
        rows.append(
            f"({int(r.doc_id)}::BIGINT,{len(e)}::INTEGER,"
            f"{lit_double(qround_py(float(e.sum()), 9))},"
            f"{peak + 1 if len(e) else 0}::INTEGER,"
            f"{lit_double(qround_py(float(e[peak]) if len(e) else 0.0, 9))})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, n_pairs, total_energy, peak_idx, peak_energy)"
    )


@register(
    "mm_avi_motion_energy",
    oracle=lambda: _mm_motion_energy_oracle(),
    tags=("MM-decode", "MM-codec", "MM-video"),
    doc="Per-clip motion-energy profile through the REAL video path - the "
    "curation signal that ranks clips by how much actually happens in "
    "them (static slates ~0, busy motion high), reusing the scene-cut "
    "plumbing: the same RIFF + MS-RLE8 encode island feeds operators/"
    "multimodal.motion_energy, which scores every consecutive frame pair "
    "with the mean SQUARED gray-plane difference (quadratic in the jump, "
    "vs scene_cuts' |diff|) and reduces in-island to one row per media: "
    "pair count, total energy, first-argmax peak pair. The oracle "
    "rebuilds the frame planes with no container or codec and replays "
    "the identical numpy reductions, so the codec round trip and the "
    "energy math are hash-verified. 100 TB shape: payloads stay "
    "executor-side, output is O(1) per media, embarrassingly "
    "media-parallel.",
)
def mm_avi_motion_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _avi_media_df(spark, sf_dir)
    e = MM.motion_energy(media)
    return e.select(
        "media_id",
        "n_pairs",
        qround(F.col("total_energy"), 9).alias("total_energy"),
        "peak_idx",
        qround(F.col("peak_energy"), 9).alias("peak_energy"),
    )


def _gif_anim_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF media frame (doc → 4-frame 6×16 clip encoded as one
    GIF89a), shared by the GIF motion-energy query — the same gen shape as
    mm_gif_frame_sample's island."""
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        from ..operators import codecs as CX

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                frames = _doc_gif_frames(text)
                out.append(
                    {
                        "media_id": int(did),
                        "payload": bytearray(CX.encode_gif(list(frames))),
                        "meta": {
                            "mime": "image/gif",
                            "width": _GIF_FRAME_W,
                            "height": _GIF_FRAME_H,
                            "n_frames": _GIF_N_FRAMES,
                        },
                    }
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(gen, schema=MM.MEDIA_SCHEMA)


def _mm_gif_motion_oracle() -> str:
    """Mirror for the GIF motion-energy profiler: rebuild the decoded frame
    stack with no container/codec and replay the island's exact numpy
    reductions — same /255, same gray plane, same diff², same first-argmax
    peak — then quantize the two energies on the 1e-9 lattice (the AVI
    twin's mirror over the GIF frame spec)."""
    import numpy as np

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        f8 = _doc_gif_frames(r.text)
        frames = np.stack([f8, f8, f8], axis=3).astype(np.float64) / 255.0
        g = frames.mean(axis=3)
        d = np.diff(g, axis=0)
        e = (d * d).mean(axis=(1, 2))
        peak = int(np.argmax(e)) if len(e) else 0
        rows.append(
            f"({int(r.doc_id)}::BIGINT,{len(e)}::INTEGER,"
            f"{lit_double(qround_py(float(e.sum()), 9))},"
            f"{peak + 1 if len(e) else 0}::INTEGER,"
            f"{lit_double(qround_py(float(e[peak]) if len(e) else 0.0, 9))})"
        )
    return (
        "SELECT * FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, n_pairs, total_energy, peak_idx, peak_energy)"
    )


@register(
    "mm_gif_motion_energy",
    oracle=lambda: _mm_gif_motion_oracle(),
    tags=("MM-decode", "MM-codec", "MM-video"),
    doc="Per-clip motion-energy profile through the REAL animated-GIF path "
    "- completes motion evidence across BOTH multi-frame containers the "
    "engine ships (mm_avi_motion_energy covers RIFF+MS-RLE8; this covers "
    "GIF89a+LZW): the mm_gif_frame_sample encode island feeds operators/"
    "multimodal.motion_energy's image/gif mime branch, which scores every "
    "consecutive frame pair with the mean SQUARED gray-plane difference "
    "and reduces in-island to one row per media (pair count, total "
    "energy, first-argmax peak). The oracle rebuilds the frame planes "
    "with no container or codec, so the variable-width-LZW round trip "
    "and the energy math are hash-verified together. 100 TB shape: "
    "payloads stay executor-side, output is O(1) per media, "
    "embarrassingly media-parallel.",
)
def mm_gif_motion_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _gif_anim_media_df(spark, sf_dir)
    e = MM.motion_energy(media)
    return e.select(
        "media_id",
        "n_pairs",
        qround(F.col("total_energy"), 9).alias("total_energy"),
        "peak_idx",
        qround(F.col("peak_energy"), 9).alias("peak_energy"),
    )


@register(
    "stream_volatility_alerts",
    oracle=f"""
    WITH stats AS (
      -- HAVING >= 2 mirrors series_stats(min_events=2): a singleton user's
      -- std is NULL under Spark's try_divide but 0.0/0.0 = NaN under the
      -- IEEE (n-1) divisor here, which would flip the alert boolean.
      SELECT user_id, {dstd_sql('value')} AS std_v FROM events
      GROUP BY 1 HAVING count(*) >= 2
    ),
    w AS (
      SELECT e.user_id,
             -- floor BEFORE the cast: epoch() is a DOUBLE with fractional
             -- seconds and CAST(double AS BIGINT) ROUNDS in DuckDB, so an
             -- event in the last half-second before a boundary would land
             -- one window late vs Spark's flooring window()
             TIMESTAMP '1970-01-01 00:00:00'
               + ((CAST(floor(epoch(e.ts)) AS BIGINT) // 10800) * 10800) * INTERVAL 1 SECOND
               AS window_start,
             e.value, s.std_v
      FROM events e JOIN stats s ON e.user_id = s.user_id
    )
    SELECT CAST(user_id AS VARCHAR) AS series_id, window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           {qround_sql('max(value) - min(value)', 6)} AS spread,
           (({qround_sql('max(value) - min(value)', 6)}) > 4.0 * any_value(std_v)) AS alert
    FROM w GROUP BY 1, 2
    """,
    tags=("STREAM", "A4", "W6", "M14"),
    doc="Streaming volatility alerting: per (series, tumbling 3 h window) "
    "max-min spread vs 4x the batch-fitted per-series std (stream-static "
    "broadcast join, the stream_window_flags pattern) - the intra-window "
    "swing alarm a grid operator pages on, complementary to the z-score "
    "flags (a window can swing violently while every point stays inside "
    "the 2.5-sigma band). max/min are associative, so the watermark-"
    "bounded windowed agg is micro-batch-slicing-independent and "
    "Trigger.AvailableNow replay equals batch semantics exactly; spread "
    "quantized 1e-6 BEFORE the threshold comparison so the alert boolean "
    "is cross-engine stable. State is one (max, min, count) triple per "
    "open window per series.",
)
def stream_volatility_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, series_stats, stream_events

    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 day")
    stats = series_stats(spark, sf_dir, min_events=2).select("user_id", "std_v")
    joined = stream.join(F.broadcast(stats), "user_id")
    agg = joined.groupBy(
        F.col("user_id"), F.window("ts", "3 hours").alias("w")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        qround(F.max("value") - F.min("value"), 6).alias("spread"),
        F.first("std_v").alias("std_v"),
    )
    name = run_available_now(agg, "stream_vol", state_partitions=SSP(sf_dir))
    return spark.table(name).select(
        F.col("user_id").cast("string").alias("series_id"),
        F.col("w.start").alias("window_start"),
        "n_events",
        "spread",
        (F.col("spread") > F.lit(4.0) * F.col("std_v")).alias("alert"),
    )


def _mm_band_oracle() -> str:
    """Mirror that never touches WAV: same int16 samples, same quantized
    band-energy helper — the stdlib-codec round trip is what's on trial."""
    from ..operators.multimodal import band_energies

    docs = _docs_pd()
    rows = []
    for r in docs.itertuples():
        e = band_energies(_doc_samples(r.text))
        rows.append(
            f"({int(r.doc_id)}::BIGINT,{lit_double(e[0])},{lit_double(e[1])},{lit_double(e[2])})"
        )
    return (
        "SELECT media_id, e500, e1000, e2000,"
        " CAST(CASE WHEN e500 >= e1000 AND e500 >= e2000 THEN 500"
        "           WHEN e1000 >= e2000 THEN 1000 ELSE 2000 END AS INTEGER)"
        " AS dominant_hz FROM (VALUES "
        + ",".join(rows)
        + ") AS t(media_id, e500, e1000, e2000)"
    )


@register(
    "mm_wav_band_energy",
    oracle=_mm_band_oracle,
    tags=("MM-codec", "M7", "F7"),
    doc="Audio band-energy fingerprint through the REAL WAV round trip: "
    "per doc, int16 samples encode to WAV and decode back through the "
    "stdlib codec inside Arrow islands, then single-bin DFT (Goertzel) "
    "energies at 500/1000/2000 Hz - the spectral screen an audio-curation "
    "pass runs to separate speech-band content from hum before paying for "
    "transcription (the w_dft_power doctrine applied to audio). The "
    "shared helper quantizes each energy to the 1e-9 lattice INSIDE the "
    "kernel, so island and mirror emit identical doubles; the dominant "
    "band is integer CASE logic over quantized values in both engines. "
    "Map-only: one Arrow island pass, no shuffle, no window.",
)
def mm_wav_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def island(batches):
        from ..operators import codecs as CX
        from ..operators.multimodal import band_energies

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                wav = CX.encode_wav(_doc_samples(text), rate=8000)
                samples, rate = CX.decode_wav(bytes(wav))
                e = band_energies(samples, rate=rate)
                dom = 500 if (e[0] >= e[1] and e[0] >= e[2]) else (1000 if e[1] >= e[2] else 2000)
                out.append(
                    {
                        "media_id": int(did),
                        "e500": e[0],
                        "e1000": e[1],
                        "e2000": e[2],
                        "dominant_hz": dom,
                    }
                )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        island,
        schema="media_id long, e500 double, e1000 double, e2000 double, dominant_hz int",
    )


def _ewma_control_oracle() -> str:
    """Recursive-CTE replay of the streaming EWMA control fold: DuckDB steps
    the exact (e, Σq, Σq², alerts) recurrence itself per user in event_id
    order — the stateful operator's whole trajectory is on trial, not just
    its final smoothed value (the Holt-Winters oracle discipline applied to
    a stream)."""
    fd = "(((x2) - ((x2) % 10 + 10) % 10) // 10)"
    e_new = fd.replace("x2", "2 * qs[t + 1] + 8 * e")
    var_prev = (
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(t AS DOUBLE)) / CAST(t - 1 AS DOUBLE)"
    )
    mu_prev = "CAST(s1 AS DOUBLE) / CAST(t AS DOUBLE)"
    return f"""
    WITH RECURSIVE arr AS (
      SELECT user_id,
             list(CAST(floor(value * 1000.0 + 0.5) AS BIGINT) ORDER BY event_id) AS qs
      FROM events GROUP BY 1
    ),
    base AS (SELECT user_id, qs, len(qs) AS n FROM arr),
    step AS (
      -- s1/s2 accumulate as HUGEINT: the engine's stateful fold keeps the
      -- prefix moments as arbitrary-precision integers, and Sq^2 near
      -- 9.2e18 (~1e5 events at q~1e7) would overflow a BIGINT accumulator
      -- on the oracle side only (r12 ADVICE).
      SELECT user_id, qs, n, 1 AS t,
             qs[1] AS e, CAST(qs[1] AS HUGEINT) AS s1,
             CAST(qs[1] AS HUGEINT) * CAST(qs[1] AS HUGEINT) AS s2,
             CAST(0 AS BIGINT) AS alerts
      FROM base
      UNION ALL
      SELECT user_id, qs, n, t + 1,
             {e_new},
             s1 + CAST(qs[t + 1] AS HUGEINT),
             s2 + CAST(qs[t + 1] AS HUGEINT) * CAST(qs[t + 1] AS HUGEINT),
             alerts + CASE WHEN t >= 30 AND ({var_prev}) > 0.0
                            AND abs(CAST({e_new} AS DOUBLE) - ({mu_prev}))
                                > sqrt({var_prev})
                           THEN 1 ELSE 0 END
      FROM step WHERE t < n
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events, e AS ewma_q,
           alerts AS n_alerts
    FROM step WHERE t = n
    """


@register(
    "stream_ewma_control",
    oracle=_ewma_control_oracle,
    tags=("STREAM", "W3", "W6", "M14"),
    doc="Streaming EWMA control chart (Roberts 1959) per user: the W3 "
    "integer smoothing fold (alpha = 0.2 on the 1e-3 lattice) runs as "
    "applyInPandasWithState with O(1) state (count, fixed-point EWMA, two "
    "exact prefix moments, alert count), alerting when the smoothed value "
    "leaves the mu +- 3*sigma*sqrt(alpha/(2-alpha)) band - which for "
    "alpha = 0.2 is EXACTLY mu +- sigma, so no float constant enters the "
    "comparison. The chart catches small sustained drifts the per-point "
    "z-score flags (stream_online_flags) miss - the complementary half of "
    "the SPC pair. mu/sigma come from exact integer moments of strictly "
    "preceding values; the whole trajectory is a function of event_id "
    "order, replayed step-for-step by the oracle's recursive CTE.",
)
def stream_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_events
    from ..streaming.stateful import stream_ewma_control as sec

    s = stream_events(spark, sf_dir)
    out = sec(s)
    # Python-stateful (applyInPandasWithState): the state stage is Python
    # compute, so it keeps the session partitioning for parallelism (the
    # size-derived count is for JVM state stores, where per-partition
    # overhead dominates)
    name = run_available_now(out, "stream_ewma", output_mode="append")
    t = spark.table(name)
    m = t.groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma_q", "n_alerts")).alias("m")
    )
    return m.select(
        "user_id",
        F.col("m.n_events").alias("n_events"),
        F.col("m.ewma_q").alias("ewma_q"),
        F.col("m.n_alerts").alias("n_alerts"),
    )


@register(
    "stream_gap_monitor",
    oracle="""
    WITH t AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN prev IS NOT NULL AND us - prev > 10800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(greatest(coalesce(max(us - prev), 0), 0) // 1000000 AS BIGINT)
             AS max_gap_s
    FROM t GROUP BY 1
    """,
    tags=("STREAM", "W5", "A14", "F9"),
    doc="Streaming feed-health monitor: per user, count inter-event gaps "
    "above 3 h and track the maximum gap via applyInPandasWithState with "
    "O(1) state (count, last timestamp, hole count, max gap) - the LIVE "
    "twin of w_gap_histogram, watching the raw arrival stream before any "
    "regularization exists (a dead meter shows up here hours before the "
    "batch spine is ever built). Gap arithmetic is exact integer "
    "microseconds (Arrow delivers Spark's us-precision timestamps; the "
    "oracle's epoch_us sees the identical integers), trajectory is a "
    "function of event_id order (within-batch sort + carried state, the "
    "stream_ewma_control contract), so the AvailableNow replay equals "
    "the batch lag-window replay bit-for-bit at any micro-batch slicing.",
)
def stream_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.score_stream import run_available_now, stream_state_partitions as SSP, stream_events
    from ..streaming.stateful import stream_gap_monitor as sgm

    s = stream_events(spark, sf_dir)
    out = sgm(s)
    # Python-stateful: keep session partitioning (see stream_ewma_control)
    name = run_available_now(out, "stream_gapmon", output_mode="append")
    t = spark.table(name)
    m = t.groupBy("user_id").agg(
        F.max(F.struct("n_events", "n_gaps", "max_gap_s")).alias("m")
    )
    return m.select(
        "user_id",
        F.col("m.n_events").alias("n_events"),
        F.col("m.n_gaps").alias("n_gaps"),
        F.col("m.max_gap_s").alias("max_gap_s"),
    )
