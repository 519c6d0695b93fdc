"""Invariants for multimodal plumbing and the imputation splice contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml import (
    imputer as IM,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.ml.neural import (
    HAS_TORCH,
    LSTMAutoencoder,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
    anomaly as AN,
    multimodal as MM,
)
from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.sources.readers import (
    load_table,
)


def test_media_schema_and_features(spark, sf_dir):
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    assert dict(media.dtypes)["payload"] == "binary"
    assert "struct" in dict(media.dtypes)["meta"]
    feats = MM.extract_features(media)
    rows = feats.limit(10).collect()
    assert rows
    for r in rows:
        assert len(r.feature) == MM.FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r.feature)
        assert r.n_bytes > 0


def test_features_deterministic(spark, sf_dir):
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    a = {r.media_id: tuple(r.feature) for r in MM.extract_features(media).collect()}
    b = {r.media_id: tuple(r.feature) for r in MM.extract_features(media).collect()}
    assert a == b


def test_real_codecs_gate_unsupported_mimes(spark, sf_dir):
    # PNG/WAV/GIF decode for real (stdlib codecs); anything else — like the
    # fixture's application/x-fake payloads or video — must raise with the
    # plug-point message, lazily at action time inside the island
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    with pytest.raises(Exception, match="no stdlib codec"):
        MM.extract_features(media, use_real_codecs=True).collect()
    with pytest.raises(Exception, match="no stdlib multi-frame codec"):
        MM.frame_sample(media, use_real_codecs=True).collect()


def test_frame_sample_counts(spark, sf_dir):
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    frames = MM.frame_sample(media, every_n=4)
    got = frames.groupBy("media_id").count().join(
        media.select("media_id", F.col("meta.n_frames").alias("nf")), "media_id"
    )
    for r in got.limit(20).collect():
        assert r["count"] == (r.nf + 3) // 4  # ceil(n_frames / 4)


def test_resize_contract(spark, sf_dir):
    media = MM.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    out = MM.resize(media, out_w=16, out_h=8)
    rows = out.limit(10).collect()
    assert rows
    for r in rows:
        assert len(r.pixels) == 16 * 8
        assert r.width == 16 and r.height == 8
        assert all(0.0 <= p <= 1.0 for p in r.pixels)
    # real-codec resize rejects non-PNG mimes lazily inside the island
    with pytest.raises(Exception, match="no stdlib image codec"):
        MM.resize(media, use_real_codecs=True).collect()


def test_impute_touches_only_masked(spark, sf_dir):
    series = AN.prepared_series(load_table(spark, sf_dir, "events"))
    imputed = IM.profile_impute(IM.with_training_mask(series))
    # M18 contract: outside the mask the series is untouched.
    violated = imputed.filter((F.col("mask") == 0) & (F.col("imputed") != F.col("value"))).count()
    assert violated == 0
    assert imputed.filter(F.col("mask") == 1).count() > 0


def test_knn_impute_all_nan_donor_slot_stays_nan_without_warning():
    """M6 kernel: a slot where every donor day is NaN stays NaN and emits no
    "Mean of empty slice" warning; other gaps get the donors' mean."""
    import warnings

    import numpy as np

    base = np.arange(24, dtype=float)
    days = np.stack([base, base + 1.0, base + 2.0])
    days[:, 5] = np.nan  # every donor is NaN at hour 5
    days[1, 3] = np.nan
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = IM.knn_impute_series(days.reshape(-1), k=2).reshape(3, 24)
    assert np.isnan(out[:, 5]).all()
    assert out[1, 3] == 4.0  # mean of the donor days' 3.0 and 5.0
    known = ~np.isnan(days)
    assert (out[known] == days[known]).all()


def test_neural_models_gated():
    if HAS_TORCH:
        pytest.skip("torch present; gating not applicable")
    with pytest.raises(NotImplementedError, match="torch"):
        LSTMAutoencoder()


# --- real stdlib codecs (operators/codecs.py) ------------------------------


def test_png_roundtrip_all_shapes():
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )

    rng = np.random.RandomState(3)
    for shape in [(5, 7), (6, 4, 3), (3, 3, 4)]:
        img = rng.randint(0, 256, size=shape).astype("uint8")
        dec = CX.decode_png(CX.encode_png(img))
        want = img[:, :, None] if img.ndim == 2 else img
        assert (dec == want).all(), shape


def test_png_decoder_handles_all_filters():
    """Our encoder emits filter 0 only; a spec decoder must undo Sub/Up/
    Average/Paeth too. Forward-filter a known image per the PNG spec and
    check the decoder reconstructs it."""
    import struct
    import zlib

    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(5, 4, 3)).astype("uint8")
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(int)
    raws = []
    for y, f in zip(range(h), [0, 1, 2, 3, 4]):
        cur = flat[y]
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=int)
        line = np.zeros(stride, dtype=int)
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                pred = CX._paeth(a, b, c)
            line[i] = (cur[i] - pred) & 0xFF
        raws.append(bytes([f]) + bytes(line.tolist()))
    raw = b"".join(raws)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (CX.decode_png(png) == img).all()


def test_wav_roundtrip():
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )

    s = (np.sin(np.linspace(0, 20, 800)) * 20000).astype("int16")
    out, rate = CX.decode_wav(CX.encode_wav(s, rate=8000))
    assert rate == 8000 and (out == s).all()


def test_real_codec_islands_over_spark(spark):
    """The use_real_codecs path must work end to end through the Arrow
    islands: PNG + WAV payloads decode for real; features and resized
    pixels match a local recomputation."""
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.multimodal import (
        extract_features,
        resize,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(8, 6, 3)).astype("uint8")
    wav = (np.sin(np.linspace(0, 40, 1600)) * 15000).astype("int16")
    rows = [
        (1, bytearray(CX.encode_png(img)), ("image/png", 6, 8, 1)),
        (2, bytearray(CX.encode_wav(wav, rate=16000)), ("audio/wav", 0, 0, 1)),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<mime:string, width:int, height:int, n_frames:int>",
    )
    feats = {r.media_id: r.feature for r in extract_features(media, use_real_codecs=True).collect()}
    assert abs(feats[1][0] - img[:, :, 0].mean() / 255.0) < 1e-12  # mean R channel
    assert abs(feats[2][6] - len(wav) / 16000.0) < 1e-12  # audio duration

    px = {r.media_id: r.pixels for r in resize(media.filter("media_id = 1"), 4, 4, use_real_codecs=True).collect()}
    grid = img.astype(np.float64) / 255.0
    ys = (np.arange(4) * 8) // 4
    xs = (np.arange(4) * 6) // 4
    want = grid[np.ix_(ys, xs)].mean(axis=2).ravel()
    assert np.allclose(px[1], want, atol=1e-12)


def test_gif_roundtrip_shapes_and_frames():
    """Single- and multi-frame GIF round trips, including table-reset-sized
    images and runs that exercise every LZW code-width step."""
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )

    rng = np.random.RandomState(3)
    for shape in [(1, 1), (5, 7), (64, 16), (200, 300)]:
        img = rng.randint(0, 256, size=shape).astype("uint8")
        out = CX.decode_gif(CX.encode_gif(img))
        assert out.shape == shape + (3,)
        assert (out[:, :, 0] == img).all() and (out[:, :, 2] == img).all()
    flat = np.tile(np.arange(256, dtype="uint8"), (50, 4))  # long runs
    assert (CX.decode_gif(CX.encode_gif(flat))[:, :, 1] == flat).all()
    frames = [rng.randint(0, 256, size=(9, 13)).astype("uint8") for _ in range(5)]
    dec = CX.decode_gif_frames(CX.encode_gif(frames))
    assert dec.shape == (5, 9, 13, 3)
    for f, d in zip(frames, dec):
        assert (d[:, :, 0] == f).all()


def test_gif_decoder_reads_independent_uncompressed_stream():
    """Cross-check the decoder against a hand-built GIF that does NOT use
    our encoder: every pixel emitted as a root code with a clear code before
    each one (the classic 'uncompressed GIF' construction), plus an
    extension block to skip and an interlaced variant."""
    import struct

    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(4, 6)).astype("uint8")
    h, w = img.shape

    def pack_codes(codes, width):
        cur = nbits = 0
        out = bytearray()
        for c in codes:
            cur |= c << nbits
            nbits += width
            while nbits >= 8:
                out.append(cur & 0xFF)
                cur >>= 8
                nbits -= 8
        if nbits:
            out.append(cur & 0xFF)
        return bytes(out)

    codes = []
    for px in img.ravel():
        codes += [256, int(px)]  # clear before every pixel: table never grows
    codes.append(257)  # EOI
    comp = pack_codes(codes, 9)
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    gif += bytes(v for i in range(256) for v in (i, i, i))
    gif += b"\x21\xfe\x05hello\x00"  # comment extension: must be skipped
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0) + bytes([8])
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        gif += bytes([len(block)]) + block
    gif += b"\x00\x3b"
    out = CX.decode_gif(bytes(gif))
    assert (out[:, :, 0] == img).all()

    # interlaced: rows stored in the 8/8/4/2 pass order
    order = [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]
    inter = img[order]
    codes = []
    for px in inter.ravel():
        codes += [256, int(px)]
    codes.append(257)
    comp = pack_codes(codes, 9)
    gif2 = bytearray(b"GIF89a")
    gif2 += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    gif2 += bytes(v for i in range(256) for v in (i, i, i))
    gif2 += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40) + bytes([8])
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        gif2 += bytes([len(block)]) + block
    gif2 += b"\x00\x3b"
    assert (CX.decode_gif(bytes(gif2))[:, :, 1] == img).all()


def test_gif_frame_sample_island_over_spark(spark):
    """Animated GIF through the real frame_sample island: row explosion plus
    per-frame grayscale stats match a local recomputation."""
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.multimodal import (
        frame_sample,
    )

    rng = np.random.RandomState(7)
    frames = rng.randint(0, 256, size=(6, 5, 8)).astype("uint8")
    media = spark.createDataFrame(
        [(9, bytearray(CX.encode_gif(list(frames))), ("image/gif", 8, 5, 6))],
        "media_id long, payload binary, "
        "meta struct<mime:string, width:int, height:int, n_frames:int>",
    )
    rows = {r.frame_idx: r.feature for r in frame_sample(media, every_n=2, use_real_codecs=True).collect()}
    assert sorted(rows) == [0, 2, 4]
    g = frames[2].astype(np.float64) / 255.0
    assert abs(rows[2][0] - g.mean()) < 1e-12
    assert abs(rows[2][3] - g.max()) < 1e-12


def test_resize_real_gif(spark):
    import numpy as np

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.multimodal import (
        resize,
    )

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, size=(10, 6)).astype("uint8")
    media = spark.createDataFrame(
        [(4, bytearray(CX.encode_gif(img)), ("image/gif", 6, 10, 1))],
        "media_id long, payload binary, "
        "meta struct<mime:string, width:int, height:int, n_frames:int>",
    )
    px = resize(media, 4, 4, use_real_codecs=True).collect()[0]["pixels"]
    grid = img.astype(np.float64) / 255.0
    ys = (np.arange(4) * 10) // 4
    xs = (np.arange(4) * 6) // 4
    # grayscale palette -> all 3 decoded channels equal the source plane
    want = grid[np.ix_(ys, xs)].ravel()
    assert np.allclose(px, want, atol=1e-12)


def test_motion_energy_static_vs_cut(spark):
    """Motion-energy semantics on hand-built clips through the REAL AVI
    round trip: a static clip scores exactly zero everywhere; a clip with
    one hard cut peaks at that pair; energy is diff^2 so a double-height
    jump scores 4x a single-height jump."""
    import numpy as np
    import pandas as pd

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        motion_energy,
    )

    base = np.full((8, 8), 100, dtype=np.uint8)
    static = np.stack([base] * 4)
    cut = np.stack([base, base, np.full((8, 8), 140, dtype=np.uint8), base])
    cut2 = np.stack([base, base, np.full((8, 8), 180, dtype=np.uint8), base])

    def media_row(mid, frames):
        return {
            "media_id": mid,
            "payload": bytearray(CX.encode_avi_rle8(frames)),
            "meta": {
                "mime": "video/x-msvideo",
                "width": 8,
                "height": 8,
                "n_frames": frames.shape[0],
            },
        }

    pdf = pd.DataFrame([media_row(1, static), media_row(2, cut), media_row(3, cut2)])
    media = spark.createDataFrame(pdf, MEDIA_SCHEMA)
    got = {r.media_id: r for r in motion_energy(media).collect()}
    assert got[1].total_energy == 0.0 and got[1].peak_energy == 0.0
    assert got[2].n_pairs == 3 and got[2].peak_idx == 2
    # jump of 80 gray levels vs 40: diff^2 scales 4x exactly (no clipping)
    assert abs(got[3].peak_energy - 4.0 * got[2].peak_energy) < 1e-12
    assert abs(got[3].total_energy - 4.0 * got[2].total_energy) < 1e-12


def test_motion_energy_gif_path_matches_avi_path(spark):
    """The image/gif mime branch of motion_energy must score a clip
    identically to the video/x-msvideo branch — same frames, two different
    real containers (GIF89a+LZW vs RIFF+MS-RLE8), one energy kernel."""
    import numpy as np
    import pandas as pd

    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators import (
        codecs as CX,
    )
    from unsupervised_anomaly_detection_on_noisy_time_series_data_for_accurate_load_forecasting_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        motion_energy,
    )

    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(5, 6, 16), dtype=np.uint8)

    def row(mid, payload, mime):
        return {
            "media_id": mid,
            "payload": bytearray(payload),
            "meta": {"mime": mime, "width": 16, "height": 6, "n_frames": 5},
        }

    pdf = pd.DataFrame(
        [
            row(1, CX.encode_gif(list(frames)), "image/gif"),
            row(2, CX.encode_avi_rle8(frames), "video/x-msvideo"),
        ]
    )
    media = spark.createDataFrame(pdf, MEDIA_SCHEMA)
    got = {r.media_id: r for r in motion_energy(media).collect()}
    assert got[1].n_pairs == got[2].n_pairs == 4
    assert got[1].total_energy == got[2].total_energy  # bit-identical
    assert got[1].peak_idx == got[2].peak_idx
    assert got[1].peak_energy == got[2].peak_energy
