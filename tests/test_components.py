"""Unit tests for components not covered by the oracle registry:
multimodal plumbing, structured streaming daily aggs, the fleet pipeline,
the solver layer, and edge-case operator semantics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- multimodal
def test_multimodal_feature_extraction(spark):
    from solar_data_tools_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        MEDIA_SCHEMA,
        extract_features,
    )

    rows = [
        (1, "image", bytes(range(64)), "image/fake", 8, 8, None),
        (2, "audio", b"\x00" * 128, "audio/fake", None, None, 1.5),
        (3, "image", b"", None, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(media, batch_feature_dim=4).orderBy("media_id").collect()
    assert [r["media_id"] for r in out] == [1, 2, 3]
    assert out[0]["n_bytes"] == 64
    assert len(out[0]["feature"]) == 4
    # deterministic: same bytes -> same hash/feature
    assert out[1]["feature"] == [0.0, 0.0, 0.0, 0.0]
    assert out[2]["content_hash"] is None
    assert out[0]["content_hash"] is not None
    assert out.__len__() == 3


def _encode_png(img, color_type=2, filters=None):
    """Minimal PNG encoder for tests: 8-bit, chosen per-row filter."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape[:2]
    nch = 1 if img.ndim == 2 else img.shape[2]
    px = img.reshape(h, w * nch).astype(np.int64)
    bpp = nch
    if filters is None:
        filters = [0] * h
    raw = bytearray()
    prev = np.zeros(w * nch, dtype=np.int64)
    for r in range(h):
        line = px[r]
        f = filters[r]
        if f == 0:
            enc = line
        elif f == 1:
            left = np.r_[np.zeros(bpp, dtype=np.int64), line[:-bpp]]
            enc = (line - left) % 256
        elif f == 2:
            enc = (line - prev) % 256
        elif f == 3:
            left = np.r_[np.zeros(bpp, dtype=np.int64), line[:-bpp]]
            enc = (line - (left + prev) // 2) % 256
        elif f == 4:
            enc = np.empty(w * nch, dtype=np.int64)
            for x in range(w * nch):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (int(line[x]) - pr) % 256
        raw.append(f)
        raw.extend(int(v) & 0xFF for v in enc)
        prev = line

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_roundtrip_all_filters():
    """Real pixel decode: random RGB image encoded with every PNG filter
    type must decode bit-exactly."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_png

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(10, 7, 3), dtype=np.uint8)
    for filters in ([0] * 10, [1] * 10, [2] * 10, [3] * 10, [4] * 10,
                    [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]):
        buf = _encode_png(img, filters=filters)
        out = decode_png(buf)
        assert out.shape == (10, 7, 3)
        assert np.array_equal(out, img), f"filters={filters}"


def test_decode_png_grayscale():
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_png

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out = decode_png(_encode_png(img, color_type=0))
    assert np.array_equal(out[:, :, 0], img)


def test_decode_wav_pcm_roundtrip():
    import io
    import wave

    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_wav_pcm

    t = np.arange(800)
    samples = (0.5 * np.sin(2 * np.pi * 440 * t / 8000) * 32767).astype(
        np.int16
    )
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(samples.tobytes())
    dec, rate = decode_wav_pcm(bio.getvalue())
    assert rate == 8000
    assert np.allclose(dec, samples / 32768.0)


def _encode_bmp(img, depth=24, bottom_up=True):
    """Minimal BMP writer (BITMAPINFOHEADER, BI_RGB) for round-trip
    tests: 24-bit BGR or 8-bit palette, 4-byte row padding."""
    import struct

    import numpy as np

    h, w = img.shape[:2]
    if depth == 24:
        rows = img[:, :, [2, 1, 0]].reshape(h, -1)  # RGB -> BGR
        palette = b""
    else:  # 8-bit: image IS the index array; identity gray palette
        rows = img.reshape(h, w)
        palette = b"".join(
            struct.pack("<BBBB", i, i, i, 0) for i in range(256)
        )
    stride = (rows.shape[1] + 3) & ~3
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : rows.shape[1]] = rows
    if bottom_up:
        padded = padded[::-1]
    data_off = 14 + 40 + len(palette)
    pixel_bytes = padded.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", data_off + len(pixel_bytes), 0, 0, data_off
    )
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, h if bottom_up else -h, 1, depth, 0,
        len(pixel_bytes), 2835, 2835,
        256 if depth == 8 else 0, 0,
    )
    return header + info + palette + pixel_bytes


def _gif_lzw_encode(indices, min_code_size):
    """Reference GIF-LZW encoder (greedy longest match, variable code
    width, clear code first) used only to build test payloads."""
    clear_code = 1 << min_code_size
    eoi_code = clear_code + 1
    table = {bytes([i]): i for i in range(clear_code)}
    next_code = eoi_code + 1
    code_size = min_code_size + 1
    out_bits = []

    def emit(code):
        for k in range(code_size):
            out_bits.append((code >> k) & 1)

    emit(clear_code)
    run = b""
    for v in bytes(indices):
        cand = run + bytes([v])
        if cand in table:
            run = cand
            continue
        emit(table[run])
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
            next_code += 1
        run = bytes([v])
    if run:
        emit(table[run])
    emit(eoi_code)
    by = bytearray()
    for i in range(0, len(out_bits), 8):
        b = 0
        for k, bit in enumerate(out_bits[i : i + 8]):
            b |= bit << k
        by.append(b)
    return bytes(by)


def _encode_gif(img, interlaced=False):
    """Minimal GIF89a writer: 256-entry global color table built from
    the image's unique colors, single LZW-compressed frame."""
    import struct

    import numpy as np

    h, w = img.shape[:2]
    colors, idx = np.unique(
        img.reshape(-1, 3), axis=0, return_inverse=True
    )
    assert len(colors) <= 256
    table = np.zeros((256, 3), dtype=np.uint8)
    table[: len(colors)] = colors
    idx = idx.reshape(h, w).astype(np.uint8)
    if interlaced:
        rows = np.concatenate(
            [
                np.arange(0, h, 8),
                np.arange(4, h, 8),
                np.arange(2, h, 4),
                np.arange(1, h, 2),
            ]
        )
        idx = idx[rows]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # 256-color GCT
    out += table.tobytes()
    out += struct.pack(
        "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0
    )
    min_code_size = 8
    out.append(min_code_size)
    lzw = _gif_lzw_encode(idx.reshape(-1), min_code_size)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_decode_bmp_roundtrip():
    """24-bit (both row orders) and 8-bit palette BMPs decode
    bit-exactly; compressed BMPs raise."""
    import numpy as np
    import pytest

    from solar_data_tools_spark.operators.multimodal import decode_bmp

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(9, 5, 3), dtype=np.uint8)
    for bottom_up in (True, False):
        out = decode_bmp(_encode_bmp(img, bottom_up=bottom_up))
        assert np.array_equal(out, img), f"bottom_up={bottom_up}"
    gray = rng.integers(0, 256, size=(6, 10), dtype=np.uint8)
    out = decode_bmp(_encode_bmp(gray, depth=8))
    assert np.array_equal(out[:, :, 0], gray)  # identity gray palette
    rle = bytearray(_encode_bmp(img))
    rle[30] = 1  # BI_RLE8
    with pytest.raises(ValueError):
        decode_bmp(bytes(rle))


def test_decode_gif_roundtrip():
    """LZW-compressed GIF frames (sequential and interlaced, incl. a
    low-color image that exercises code-width growth) decode to the
    exact source pixels."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_gif

    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(16, 11, 1), dtype=np.uint8).repeat(
        3, axis=2
    )  # gray RGB: <=256 unique colors guaranteed
    for interlaced in (False, True):
        out = decode_gif(_encode_gif(img, interlaced=interlaced))
        assert np.array_equal(out, img), f"interlaced={interlaced}"
    # long runs of few colors: dictionary growth + width bumps
    flat = np.zeros((32, 40, 3), dtype=np.uint8)
    flat[8:24, 10:30] = 200
    assert np.array_equal(decode_gif(_encode_gif(flat)), flat)


def test_media_feature_uses_real_bmp_gif_pixels():
    """media_feature must route BMP/GIF through the real decoders: a
    pure-green image's channel-mean features are exact."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import media_feature

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[:, :, 1] = 255
    for buf in (_encode_bmp(img), _encode_gif(img)):
        feat = media_feature(buf)
        assert feat[0] == 0.0 and feat[1] == 255.0 and feat[2] == 0.0


def test_media_feature_uses_real_pixels():
    """Feature vector must be computed from DECODED pixels, not byte
    histograms: a pure-red image's first three features are exactly the
    channel means (255, 0, 0)."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import media_feature

    img = np.zeros((6, 6, 3), dtype=np.uint8)
    img[:, :, 0] = 255
    feat = media_feature(_encode_png(img))
    assert feat[0] == 255.0 and feat[1] == 0.0 and feat[2] == 0.0
    # gray mean = 85, fill fraction (gray > 127.5) = 0
    assert feat[3] == pytest.approx(85.0)
    assert feat[7] == 0.0


def test_media_feature_falls_back_for_unsupported():
    from solar_data_tools_spark.operators.multimodal import (
        _fake_feature,
        media_feature,
    )

    blob = b"\xff\xd8" + bytes(range(100))  # JPEG magic, no decoder
    assert media_feature(blob) == _fake_feature(blob)


# ----------------------------------------------------------------- streaming
def test_streaming_daily_stats_matches_batch(spark, sf_small, tmp_path):
    """availableNow file stream over the events parquet must produce the
    same daily aggregates as the batch path."""
    from solar_data_tools_spark.operators.canonical import events_as_measurements
    from solar_data_tools_spark.session import read_table
    from solar_data_tools_spark.streaming import streaming_daily_stats

    events = read_table(spark, f"{sf_small}/events.parquet")
    meas = events_as_measurements(events)
    # stage a micro-batch-readable copy (ns timestamps already normalized)
    src = str(tmp_path / "stream_src")
    meas.select("site", "ts", "value").write.parquet(src)

    stream = (
        spark.readStream.schema("site long, ts timestamp, value double")
        .parquet(src)
    )
    out = streaming_daily_stats(stream, slots_per_day=288)
    # complete mode: append-mode windows only emit once the watermark passes
    # them, so a bounded availableNow run would hold back the trailing days
    q = (
        out.writeStream.format("memory")
        .queryName("daily_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["site"], str(r["date"])): (round(r["energy"], 6), r["n_obs"])
        for r in spark.sql("select * from daily_stream_test").collect()
    }
    exp = {
        (r["site"], str(r["date"])): (round(r["energy"], 6), r["n_obs"])
        for r in meas.groupBy("site", "date")
        .agg(
            (F.sum("value") * 24.0 / 288.0).alias("energy"),
            F.count("value").alias("n_obs"),
        )
        .collect()
    }
    assert got == exp


def test_streaming_sessionize_matches_batch(spark, sf_small, tmp_path):
    """session_window streaming sessions must agree with the batch
    gap-based sessionizer on counts and totals."""
    from solar_data_tools_spark.operators.canonical import events_as_measurements
    from solar_data_tools_spark.operators.sessions import sessionize
    from solar_data_tools_spark.session import read_table
    from solar_data_tools_spark.streaming import streaming_sessionize

    events = read_table(spark, f"{sf_small}/events.parquet")
    meas = events_as_measurements(events)
    src = str(tmp_path / "sess_src")
    meas.select("site", "ts", "value").write.parquet(src)

    stream = spark.readStream.schema("site long, ts timestamp, value double").parquet(
        src
    )
    out = streaming_sessionize(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select site, session_start, n_events, round(session_value, 6) v "
        "from sess_stream_test"
    ).collect()
    exp = (
        sessionize(meas, gap_seconds=1800)
        .select("site", "session_start", "n_events", F.round("session_value", 6).alias("v"))
        .collect()
    )
    # session_window's end = last_event + gap, so compare on (site, start)
    assert sorted((r["site"], str(r["session_start"]), r["n_events"], r["v"]) for r in got) == sorted(
        (r["site"], str(r["session_start"]), r["n_events"], r["v"]) for r in exp
    )


# ------------------------------------------------------------------ pipeline
def test_run_pipeline_end_to_end(spark, sf_small):
    from solar_data_tools_spark.operators.canonical import events_as_measurements
    from solar_data_tools_spark.plans.pipeline import run_pipeline
    from solar_data_tools_spark.session import read_table

    events = read_table(spark, f"{sf_small}/events.parquet")
    meas = events_as_measurements(events)
    result = run_pipeline(meas, sampling_seconds=3600)

    report = result.report.collect()
    n_sites = meas.select("site").distinct().count()
    assert len(report) == n_sites
    for row in report:
        assert row["num_days"] > 0
        assert row["capacity"] > 0

    # standardized grid: every site covers full days at the grid frequency
    std = result.standardized
    per_site = std.groupBy("site").agg(F.count("*").alias("n")).collect()
    for r in per_site:
        assert r["n"] % 24 == 0, "hourly grid must tile whole days"

    daily_cols = set(result.daily.columns)
    assert {"energy", "density", "day_max", "clip_stat_1"} <= daily_cols


# -------------------------------------------------------------------- solver
def test_quantile_regression_recovers_seasonal_quantile():
    """IRLS pinball fit on a Fourier basis: residuals must split
    approximately tau / (1-tau) around the fit (the defining property of a
    quantile fit)."""
    from solar_data_tools_spark.solvers.basis import fourier_basis
    from solar_data_tools_spark.solvers.decompositions import (
        quantile_regression_irls,
    )

    rng = np.random.default_rng(7)
    n = 730
    t = np.arange(n)
    season = 5.0 + 2.0 * np.sin(2 * np.pi * t / 365.2425)
    y = season + rng.normal(0, 0.5, n)
    X = fourier_basis(t, num_harmonics=3)
    for tau in (0.5, 0.9):
        beta = quantile_regression_irls(X, y, tau=tau)
        frac_below = float(np.mean(y <= X @ beta))
        assert abs(frac_below - tau) < 0.05, (tau, frac_below)


def test_tl1_fit_handles_nans_and_short_series():
    from solar_data_tools_spark.solvers.decompositions import tl1_l2d2p365_fit

    y = np.full(400, 10.0) + np.sin(np.arange(400) / 58.0)
    y[50:60] = np.nan
    fit = tl1_l2d2p365_fit(y, tau=0.5)
    assert np.isfinite(fit).all()
    # too-short series -> all NaN, no crash
    assert np.isnan(tl1_l2d2p365_fit(np.array([1.0, 2.0]))).all()


# ------------------------------------------------------------------- sources
def test_read_timeseries_csv_roundtrip(spark, tmp_path):
    from solar_data_tools_spark.sources.readers import read_timeseries_csv

    p = tmp_path / "siteA.csv"
    p.write_text("ts,power\n2024-01-01 00:00:00,1.5\n2024-01-01 00:05:00,2.5\n")
    df = read_timeseries_csv(spark, str(p), site_from_filename=True)
    rows = df.orderBy("ts").collect()
    assert len(rows) == 2
    assert rows[0]["site"] == "siteA"
    assert str(rows[0]["ts"]).startswith("2024-01-01 00:00")


# ------------------------------------------------------------ operator edges
def test_trim_empty_edge_days(spark):
    from solar_data_tools_spark.operators.filters import trim_empty_edge_days

    rows = []
    for d, v in [(1, None), (2, 5.0), (3, None), (4, 7.0), (5, None)]:
        rows.append((1, f"2024-01-0{d}", v))
    df = spark.createDataFrame(rows, "site long, date_s string, value double").select(
        "site", F.to_date("date_s").alias("date"), "value"
    )
    kept = trim_empty_edge_days(df)
    dates = sorted(str(r["date"]) for r in kept.select("date").distinct().collect())
    assert dates == ["2024-01-02", "2024-01-03", "2024-01-04"]


def test_circular_roll_slots(spark):
    from solar_data_tools_spark.operators.windows import circular_roll_slots

    df = spark.createDataFrame(
        [(1, "2024-01-01", s, float(s)) for s in range(4)],
        "site long, date_s string, slot int, value double",
    ).select("site", F.to_date("date_s").alias("date"), "slot", "value")
    shifts = spark.createDataFrame(
        [(1, "2024-01-01", 1)], "site long, date_s string, roll_k int"
    ).select("site", F.to_date("date_s").alias("date"), "roll_k")
    out = circular_roll_slots(df, shifts, slots_per_day=4)
    got = {r["value"]: r["slot"] for r in out.collect()}
    assert got == {0.0: 1, 1.0: 2, 2.0: 3, 3.0: 0}


def test_asof_join_directions(spark):
    from solar_data_tools_spark.operators.joins import asof_nearest_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, ts_s string"
    ).select("k", F.to_timestamp("ts_s").alias("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:59:00", 1.0), (1, "2024-01-01 10:00:30", 2.0)],
        "k long, ts_s string, v double",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "v")

    nearest = asof_nearest_join(left, right, on="k", tolerance_seconds=3600).collect()
    assert nearest[0]["v"] == 2.0  # 30s beats 60s
    backward = asof_nearest_join(
        left, right, on="k", tolerance_seconds=3600, direction="backward"
    ).collect()
    assert backward[0]["v"] == 1.0
    forward = asof_nearest_join(
        left, right, on="k", tolerance_seconds=10, direction="backward"
    ).collect()
    assert forward[0]["v"] is None  # tolerance excludes the 60s-old row


# --------------------------------------------------------- NTZ ingest (r04)
def test_read_table_normalizes_timestamp_ntz(spark, sf_small, tmp_path):
    """Spark 4 infers naive parquet timestamps as TIMESTAMP_NTZ; the driver's
    own session may have that inference ON. read_table must normalize to
    TIMESTAMP so unix_micros()-based operators (sessionize, T1, T2) resolve.
    Regression for the round-3 q14/q19/q26/q27/q32/q76 crash family."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from solar_data_tools_spark.operators.canonical import events_as_measurements
    from solar_data_tools_spark.operators.sessions import sessionize
    from solar_data_tools_spark.operators.time_axis import (
        infer_sampling_seconds,
        standardize_time_axis,
    )
    from solar_data_tools_spark.session import read_table

    prev = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        path = f"{sf_small}/events.parquet"
        raw = spark.read.parquet(path)
        # precondition: without normalization the column IS NTZ (else this
        # test is vacuous for the regression it guards)
        assert isinstance(raw.schema["ts"].dataType, TimestampNTZType)
        events = read_table(spark, path)
        assert isinstance(events.schema["ts"].dataType, TimestampType)
        meas = events_as_measurements(events)
        sessions = sessionize(meas, gap_seconds=1800)
        assert sessions.limit(1).count() >= 0
        sampling = infer_sampling_seconds(meas)
        assert sampling.count() > 0
        grid = standardize_time_axis(meas.limit(5000), sampling_seconds=300)
        assert grid.limit(1).count() >= 0
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev)


def test_read_table_cache_frees_dropped_session(spark, sf_small):
    """The plan cache must not keep a session alive: every cached
    DataFrame references its session, so a cache keyed by session from
    outside the session object pins the session forever."""
    import gc
    import weakref

    from pyspark import RDD

    from solar_data_tools_spark.session import read_table

    path = f"{sf_small}/events.parquet"
    # SparkSession() rebinds RDD.toDF to a closure over the newest
    # session; restore the shared session's binding, so that only the
    # plan cache could keep s2 alive
    to_df = RDD.toDF
    s2 = spark.newSession()
    RDD.toDF = to_df
    df = read_table(s2, path)
    assert read_table(s2, path) is df
    assert read_table(spark, path) is not df
    ref = weakref.ref(s2)
    del s2, df
    gc.collect()
    assert ref() is None


# ----------------------------------------------------- media sniffing (r04)
def _make_png(w, h):
    import struct, zlib

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80\x80\x80" * w for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(seconds, rate=8000):
    import io
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(b"\x00\x00" * int(seconds * rate))
    return bio.getvalue()


def test_sniff_media_real_containers():
    from solar_data_tools_spark.operators.multimodal import sniff_media

    png = sniff_media(_make_png(17, 9))
    assert png["mime_type"] == "image/png"
    assert (png["width"], png["height"], png["bit_depth"]) == (17, 9, 8)

    wav = sniff_media(_make_wav(2.5))
    assert wav["mime_type"] == "audio/wav"
    assert wav["sample_rate_hz"] == 8000
    assert wav["channels"] == 1
    assert abs(wav["duration_s"] - 2.5) < 1e-6

    import struct

    # minimal JPEG: SOI + SOF0 with 31x23, 8-bit
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", 11) + bytes([8]) + struct.pack(">HH", 23, 31) + b"\x03\x00\x00\x00"
    )
    j = sniff_media(jpeg)
    assert j["mime_type"] == "image/jpeg"
    assert (j["width"], j["height"], j["bit_depth"]) == (31, 23, 8)

    gif = b"GIF89a" + struct.pack("<HH", 5, 7) + b"\x00" * 10
    g = sniff_media(gif)
    assert g["mime_type"] == "image/gif"
    assert (g["width"], g["height"]) == (5, 7)

    assert sniff_media(b"not media at all")["mime_type"] is None
    assert sniff_media(b"")["mime_type"] is None


def test_extract_features_sniffs_through_spark(spark):
    from solar_data_tools_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    rows = [
        (1, "image", _make_png(32, 16), None, None, None, None),
        (2, "audio", _make_wav(1.0), None, None, None, None),
        (3, "image", b"\x00garbage", None, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in extract_features(media).collect()}
    assert out[1].sniffed_mime == "image/png"
    assert (out[1].width, out[1].height) == (32, 16)
    assert out[2].sniffed_mime == "audio/wav"
    assert abs(out[2].duration_s - 1.0) < 1e-6
    assert out[2].sample_rate_hz == 8000
    assert out[3].sniffed_mime is None and out[3].width is None


# ------------------------------------------- point-mass cluster selection
def test_point_mass_multicell_cluster():
    """A point mass smeared over several grid cells must reduce to ONE
    representative at the sharpest slope collapse (documented argmin
    deviation from the reference's off-by-one argmax slice)."""
    import numpy as np

    from solar_data_tools_spark.algorithms.daily_flags import (
        point_mass_locations,
    )

    n = 401
    x = np.linspace(0.0, 1.0, n)
    # CDF: gentle rise, then a steep 3-cell ramp near 0.6 (smeared point
    # mass), then gentle rise again
    y = 0.4 * x.copy()
    j = int(0.6 * (n - 1))
    y[j : j + 3] += np.array([0.1, 0.3, 0.4])
    y[j + 3 :] += 0.4
    y = y / y[-1]
    pms = point_mass_locations(y, x)
    interior = pms[pms < 0.95]
    assert len(interior) == 1, pms
    assert abs(interior[0] - 0.6) < 0.02, pms


def test_scoring_rejects_ragged_series(spark):
    """daily_quality_scores must fail with the site named when the
    standardized series is not a whole number of days."""
    import pandas as pd
    import pytest as _pytest

    from solar_data_tools_spark.algorithms.scoring import daily_quality_scores

    ts = pd.date_range("2024-01-01", periods=100, freq="5min")  # ragged
    pdf = pd.DataFrame({"site": 7, "grid_ts": ts, "value": 1.0})
    df = daily_quality_scores(spark.createDataFrame(pdf), slots_per_day=288)
    with _pytest.raises(Exception, match="site 7"):
        df.collect()


def test_streaming_dedup_matches_batch(spark, sf_small, tmp_path):
    """Streaming exact dedup over the documents table must keep exactly
    one representative per distinct normalized text (same contract as
    the batch exact-dedup operator), and first-seen telemetry must
    report the true copy counts."""
    import pandas as pd

    from solar_data_tools_spark.session import read_table
    from solar_data_tools_spark.streaming import (
        streaming_exact_dedup,
        streaming_first_seen,
    )

    docs = read_table(spark, f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    # synthesize arrival order: ingest_ts strictly increasing by doc_id
    staged = docs.withColumn(
        "ingest_ts",
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"),
    )
    src = str(tmp_path / "docs_stream")
    staged.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string, ingest_ts timestamp")
        .parquet(src)
    )
    dq = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    dq.awaitTermination(120)
    kept = spark.sql("select * from dedup_stream_test").toPandas()

    batch = (
        staged.withColumn(
            "h", F.xxhash64(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
        )
        .toPandas()
    )
    n_distinct = batch.h.nunique()
    assert len(kept) == n_distinct
    assert kept.content_hash.nunique() == n_distinct

    fq = (
        streaming_first_seen(stream)
        .writeStream.format("memory")
        .queryName("first_seen_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    fq.awaitTermination(120)
    seen = spark.sql("select * from first_seen_test").toPandas()
    truth = batch.groupby("h").agg(n=("doc_id", "size"), first=("ingest_ts", "min"))
    assert len(seen) == len(truth)
    m = seen.set_index("content_hash")
    for h, row in truth.iterrows():
        assert int(m.loc[h, "n_copies"]) == int(row["n"])
        assert pd.Timestamp(m.loc[h, "first_ts"]) == row["first"]


def test_media_feature_survives_corrupt_payloads():
    """One malformed file must degrade to the fallback feature, never
    raise out of the UDF (review finding: zlib/struct/Index errors
    escaped the ValueError-only catch)."""
    import struct
    import zlib

    from solar_data_tools_spark.operators.multimodal import (
        _fake_feature,
        media_feature,
    )

    # PNG magic + IHDR but corrupt IDAT stream (zlib.error)
    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bad_idat = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\x00not-zlib-data")
        + chunk(b"IEND", b"")
    )
    assert media_feature(bad_idat) == _fake_feature(bad_idat)
    # truncated IHDR (struct.error)
    trunc = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr[:6])
    assert media_feature(trunc) == _fake_feature(trunc)


def test_decode_wav_stereo_duration_and_mono_mix():
    import io
    import wave

    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        audio_feature,
        decode_wav_pcm,
    )

    t = np.arange(8000)
    left = (0.5 * np.sin(2 * np.pi * 440 * t / 8000) * 32767).astype(np.int16)
    right = (-left).astype(np.int16)
    inter = np.empty(16000, dtype=np.int16)
    inter[0::2] = left
    inter[1::2] = right
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wv:
        wv.setnchannels(2)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(inter.tobytes())
    samples, rate = decode_wav_pcm(bio.getvalue())
    assert len(samples) == 8000  # frames, not interleaved samples
    feat = audio_feature(samples, rate)
    assert feat[5] == pytest.approx(1.0)  # duration: 1 s, not 2 s
    # L and -R average to ~0 per frame
    assert np.abs(samples).max() < 1e-4


def test_embedding_lsh_dedup_rejects_degenerate_planes(spark, sf_small):
    from solar_data_tools_spark.operators.dedup import (
        embedding_cosine_duplicates,
    )
    from solar_data_tools_spark.session import read_table

    emb = read_table(spark, f"{sf_small}/embeddings.parquet")
    with pytest.raises(ValueError, match="max_hamming"):
        embedding_cosine_duplicates(
            emb, method="lsh", planes=[[1.0] * 64] * 4, max_hamming=6
        )


def test_streaming_packing_matches_batch(spark, sf_small, tmp_path):
    """applyInPandasWithState packing over an in-order stream must
    reproduce the batch concat-then-chunk assignment exactly, including
    across micro-batch boundaries (state carries the running total)."""
    from solar_data_tools_spark.operators.sampling import pack_sequences
    from solar_data_tools_spark.session import read_table
    from solar_data_tools_spark.streaming import streaming_pack_sequences

    docs = read_table(spark, f"{sf_small}/documents.parquet")
    # two files, doc_id-ordered and range-split so micro-batches arrive
    # in order_col order -> streaming assignment must equal batch
    src = str(tmp_path / "pack_src")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    docs.where(F.col("doc_id") <= mid).orderBy("doc_id").coalesce(1).write.parquet(src)
    docs.where(F.col("doc_id") > mid).orderBy("doc_id").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_pack_sequences(stream, budget=512)
    q = (
        out.writeStream.format("memory")
        .queryName("pack_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["pack_id"], r["offset_in_pack"], r["n_tokens"])
        for r in spark.sql("select * from pack_stream_test").collect()
    }
    exp = {
        r["doc_id"]: (r["pack_id"], r["offset_in_pack"], r["n_tokens"])
        for r in pack_sequences(docs, budget=512, group_col="source").collect()
    }
    assert got == exp


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value, length):
        for k in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> k) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # pad with 1-bits


def _jpeg_huff_spec():
    """Single-length canonical tables: DC = 12 symbols at 4 bits, AC =
    162 symbols at 8 bits (all-ones code never assigned)."""
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    dc = {s: (i, 4) for i, s in enumerate(dc_syms)}
    ac = {s: (i, 8) for i, s in enumerate(ac_syms)}
    return dc_syms, ac_syms, dc, ac


def _jpeg_magnitude(v):
    size = 0 if v == 0 else int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _encode_jpeg(img, subsample=False, restart_interval=0):
    """Minimal baseline JPEG encoder for round-trip tests: flat (all-1)
    quant tables, single-length canonical Huffman tables, 4:4:4 or
    4:2:0, optional restart markers. Gray input (h, w) -> 1-component."""
    import struct

    import numpy as np

    from solar_data_tools_spark.operators.multimodal import _DCT_C, _JPEG_ZZ

    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        comps = [img.astype(np.float64)]
        samp = [(1, 1)]
        qids = [0]
    else:
        px = img.astype(np.float64)
        y = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        cb = -0.168736 * px[:, :, 0] - 0.331264 * px[:, :, 1] + 0.5 * px[:, :, 2] + 128.0
        cr = 0.5 * px[:, :, 0] - 0.418688 * px[:, :, 1] - 0.081312 * px[:, :, 2] + 128.0
        if subsample:
            # 4:2:0 — average chroma over 2x2 (image must be even-sized)
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            comps, samp, qids = [y, cb, cr], [(2, 2), (1, 1), (1, 1)], [0, 1, 1]
        else:
            comps, samp, qids = [y, cb, cr], [(1, 1), (1, 1), (1, 1)], [0, 1, 1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # pad each component plane to its block grid by edge replication
    planes = []
    for c, (sh, sv) in zip(comps, samp):
        th, tw = mcuy * sv * 8, mcux * sh * 8
        p = np.pad(c, ((0, th - c.shape[0]), (0, tw - c.shape[1])), mode="edge")
        planes.append(p)
    dc_syms, ac_syms, dc_map, ac_map = _jpeg_huff_spec()

    out = bytearray(b"\xff\xd8")
    # DQT: two flat tables (zigzag order of all-ones is all-ones)
    for tq in (0, 1):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + b"\x01" * 64
    # SOF0
    ncomp = len(comps)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (samp[ci][0] << 4) | samp[ci][1], qids[ci]])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC table 0 (12 syms @ len 4), AC table 0 (162 syms @ len 8)
    counts_dc = bytes(12 if L == 4 else 0 for L in range(1, 17))
    counts_ac = bytes(162 if L == 8 else 0 for L in range(1, 17))
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 12) + b"\x00" + counts_dc + bytes(dc_syms)
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + 162) + b"\x10" + counts_ac + bytes(ac_syms)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    bw = _JpegBitWriter()
    pred = [0] * ncomp
    n_mcu = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                pred = [0] * ncomp
            for ci in range(ncomp):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        r0 = (my * sv + by) * 8
                        c0 = (mx * sh + bx) * 8
                        blk = planes[ci][r0 : r0 + 8, c0 : c0 + 8] - 128.0
                        coef = _DCT_C @ blk @ _DCT_C.T
                        q = np.round(coef).astype(np.int64).reshape(-1)[_JPEG_ZZ]
                        diff = int(q[0]) - pred[ci]
                        pred[ci] = int(q[0])
                        size, bits = _jpeg_magnitude(diff)
                        code, ln = dc_map[size]
                        bw.write(code, ln)
                        if size:
                            bw.write(bits, size)
                        run = 0
                        last_nz = max(np.nonzero(q[1:])[0]) + 1 if np.any(q[1:]) else 0
                        for k in range(1, last_nz + 1):
                            v = int(q[k])
                            if v == 0:
                                run += 1
                                continue
                            while run >= 16:
                                code, ln = ac_map[0xF0]
                                bw.write(code, ln)
                                run -= 16
                            size, bits = _jpeg_magnitude(v)
                            code, ln = ac_map[(run << 4) | size]
                            bw.write(code, ln)
                            bw.write(bits, size)
                            run = 0
                        if last_nz < 63:
                            code, ln = ac_map[0x00]
                            bw.write(code, ln)
            n_mcu += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_roundtrip_444():
    """Baseline 4:4:4 JPEG with flat quant tables decodes back to the
    source within DCT-rounding tolerance; a flat color field is near
    exact."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(21)
    # smooth gradient + mild noise (extreme per-pixel noise would be
    # outside flat-quant tolerance anyway)
    yy, xx = np.mgrid[0:24, 0:17]
    base = (yy * 5 + xx * 7) % 256
    img = np.stack([base, 255 - base, (base * 2) % 256], axis=2)
    img = np.clip(img + rng.integers(-8, 9, img.shape), 0, 255).astype(np.uint8)
    out = decode_jpeg(_encode_jpeg(img))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).max()
    assert err <= 8, f"max err {err}"

    flat = np.full((16, 16, 3), 200, dtype=np.uint8)
    out = decode_jpeg(_encode_jpeg(flat))
    assert np.abs(out.astype(int) - 200).max() <= 2


def test_decode_jpeg_420_and_restart():
    """4:2:0 chroma subsampling (2x2-constant chroma -> lossless
    subsample) and restart markers both decode correctly."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(22)
    # chroma constant on 2x2 blocks: build at half res then upsample
    half = rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8)
    img = half.repeat(2, axis=0).repeat(2, axis=1)  # 32 x 24
    out = decode_jpeg(_encode_jpeg(img, subsample=True))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).max()
    assert err <= 8, f"max err {err}"

    out = decode_jpeg(_encode_jpeg(img, subsample=True, restart_interval=1))
    err = np.abs(out.astype(int) - img.astype(int)).max()
    assert err <= 8, f"restart max err {err}"


def test_decode_jpeg_grayscale():
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_jpeg

    yy, xx = np.mgrid[0:10, 0:13]
    img = ((yy * 11 + xx * 3) % 256).astype(np.uint8)
    out = decode_jpeg(_encode_jpeg(img))
    assert out.shape == (10, 13, 1)
    assert np.abs(out[:, :, 0].astype(int) - img.astype(int)).max() <= 6


def test_media_feature_uses_real_jpeg_pixels():
    """JPEG now routes through the real decoder: a flat mid-gray image
    yields channel means within quantization error of 180."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import media_feature

    img = np.full((16, 16, 3), 180, dtype=np.uint8)
    feat = media_feature(_encode_jpeg(img))
    assert abs(feat[0] - 180.0) <= 2 and abs(feat[3] - 180.0) <= 2


def test_streaming_simhash_matches_batch(spark, sf_small, tmp_path):
    """SimHash fingerprinting (explode + 64 conditional sums = a
    streaming aggregation) runs unchanged under Structured Streaming in
    complete mode — the streamed fingerprints must equal the batch
    operator's bit-for-bit (ingestion-time near-dup indexing)."""
    from solar_data_tools_spark.operators.dedup import simhash
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_simhash_stream")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = (
        simhash(stream)
        .writeStream.format("memory")
        .queryName("simhash_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: r["simhash"]
        for r in spark.sql("select * from simhash_stream_test").collect()
    }
    batch = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert streamed == batch and len(batch) > 0


def test_streaming_decontaminate_matches_batch(spark, sf_small, tmp_path):
    """Decontamination runs as a stream-static broadcast join (eval
    gram set static, corpus streaming) + streaming aggregation in
    complete mode: streamed flags must equal the batch operator's —
    ingestion-time benchmark filtering."""
    from solar_data_tools_spark.operators import curation as cur
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.where(F.col("doc_id") % 41 == 0)
    tr = docs.where(F.col("doc_id") % 41 != 0)
    src = str(tmp_path / "docs_decon_stream")
    tr.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = (
        cur.decontaminate(stream, ev, n=4)
        .writeStream.format("memory")
        .queryName("decon_stream_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"])
        for r in spark.sql("select * from decon_stream_test").collect()
    }
    batch = {
        r["doc_id"]: (r["n_grams"], r["n_contaminated"])
        for r in cur.decontaminate(tr, ev, n=4).collect()
    }
    assert streamed == batch and len(batch) > 0


# ------------------------------------------------- multimodal round 5:
# MP4 container sniffing, animated-GIF frame sampling, bilinear resize
def _mp4_box(btype, body):
    import struct

    return struct.pack(">I", 8 + len(body)) + btype + body


def _encode_mp4_meta(duration_s=7.5, timescale=1000, w=640, h=360, v1=False):
    """Metadata-only MP4: ftyp + moov(mvhd + trak(tkhd)). No samples —
    enough for container sniffing, which is all the stdlib layer claims."""
    import struct

    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    if v1:
        mvhd = _mp4_box(
            b"mvhd",
            b"\x01" + bytes(3) + bytes(16)
            + struct.pack(">IQ", timescale, int(duration_s * timescale))
            + bytes(80),
        )
    else:
        mvhd = _mp4_box(
            b"mvhd",
            bytes(4) + bytes(8)
            + struct.pack(">II", timescale, int(duration_s * timescale))
            + bytes(80),
        )
    tkhd = _mp4_box(
        b"tkhd",
        bytes(4 + 4 + 4 + 4 + 4 + 4 + 8 + 2 + 2 + 2 + 2 + 36)
        + struct.pack(">II", w << 16, h << 16),
    )
    return ftyp + _mp4_box(b"moov", mvhd + _mp4_box(b"trak", tkhd))


def test_sniff_mp4_container():
    from solar_data_tools_spark.operators.multimodal import sniff_media

    info = sniff_media(_encode_mp4_meta(duration_s=7.5, w=640, h=360))
    assert info["mime_type"] == "video/mp4"
    assert info["duration_s"] == 7.5
    assert (info["width"], info["height"]) == (640, 360)
    # 64-bit mvhd (version 1) parses identically
    info1 = sniff_media(_encode_mp4_meta(duration_s=2.0, v1=True))
    assert info1["duration_s"] == 2.0
    # truncated/garbage boxes degrade to metadata-free, never raise
    assert sniff_media(_encode_mp4_meta()[:20])["mime_type"] == "video/mp4"


def _encode_animated_gif(palette, frames):
    """GIF89a writer for animation tests. ``palette`` is (n<=256, 3)
    uint8; each frame is a dict {idx: (h, w) palette indices, x, y,
    delay_cs, transparent_idx (or None), disposal}."""
    import struct

    import numpy as np

    table = np.zeros((256, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    sw = max(f["x"] + f["idx"].shape[1] for f in frames)
    sh = max(f["y"] + f["idx"].shape[0] for f in frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", sw, sh, 0x80 | 0x07, 0, 0)
    out += table.tobytes()
    for f in frames:
        h, w = f["idx"].shape
        packed = (f.get("disposal", 0) & 0x07) << 2
        tidx = f.get("transparent_idx")
        if tidx is not None:
            packed |= 0x01
        out += struct.pack(
            "<BBBBHB", 0x21, 0xF9, 4, packed, f.get("delay_cs", 0),
            tidx if tidx is not None else 0,
        )
        out.append(0)  # GCE terminator
        out += struct.pack("<BHHHHB", 0x2C, f["x"], f["y"], w, h, 0)
        out.append(8)  # min code size
        lzw = _gif_lzw_encode(f["idx"].reshape(-1).astype(np.uint8), 8)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)  # image-data terminator
    out += b"\x3b"
    return bytes(out)


def test_decode_gif_frames_animation():
    """Multi-frame composition: offsets, transparency holes, and
    restore-to-background disposal all land exactly where the GIF89a
    animation model says."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        decode_gif,
        decode_gif_frames,
    )

    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    base = np.full((8, 10), 1, dtype=np.uint8)  # red screen
    patch = np.full((4, 5), 2, dtype=np.uint8)  # green patch...
    patch[0, 0] = 3  # ...with one transparent pixel (idx 3 marked transp)
    last = np.full((2, 2), 3, dtype=np.uint8)  # blue corner
    gif = _encode_animated_gif(
        pal,
        [
            {"idx": base, "x": 0, "y": 0, "delay_cs": 10, "disposal": 1},
            {"idx": patch, "x": 2, "y": 3, "delay_cs": 20,
             "transparent_idx": 3, "disposal": 2},
            {"idx": last, "x": 0, "y": 0, "delay_cs": 30},
        ],
    )
    frames = decode_gif_frames(gif)
    assert len(frames) == 3
    t0, f0 = frames[0]
    t1, f1 = frames[1]
    t2, f2 = frames[2]
    assert (t0, t1, t2) == (0.0, 0.10, 0.30)  # cumulative delays
    assert f0.shape == (8, 10, 3)
    assert (f0 == [255, 0, 0]).all()
    # frame 1: green patch at (y=3..7, x=2..7), transparent hole shows red
    assert (f1[3, 2] == [255, 0, 0]).all()  # transparent pixel -> base
    assert (f1[3, 3] == [0, 255, 0]).all()
    assert (f1[2, 2] == [255, 0, 0]).all()  # outside patch rect
    # frame 2: disposal=2 restored the patch rect to BACKGROUND (pal[0]
    # = black) before drawing the blue corner
    assert (f2[0, 0] == [0, 0, 255]).all()
    assert (f2[4, 4] == [0, 0, 0]).all()  # restored rect
    assert (f2[0, 9] == [255, 0, 0]).all()  # untouched screen
    # decode_gif (first frame) agrees with frames[0]
    assert np.array_equal(decode_gif(gif), f0)


def test_decode_gif_frames_disposal_previous():
    """Disposal method 3 (restore-to-previous): the frame's rect
    reverts to its pre-draw content before the NEXT frame composes."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_gif_frames

    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    base = np.full((6, 6), 1, dtype=np.uint8)        # red screen
    overlay = np.full((3, 3), 2, dtype=np.uint8)     # green patch, disp 3
    final = np.full((2, 2), 3, dtype=np.uint8)       # blue corner
    gif = _encode_animated_gif(
        pal,
        [
            {"idx": base, "x": 0, "y": 0, "delay_cs": 10, "disposal": 1},
            {"idx": overlay, "x": 1, "y": 1, "delay_cs": 10, "disposal": 3},
            {"idx": final, "x": 4, "y": 4, "delay_cs": 10},
        ],
    )
    frames = decode_gif_frames(gif)
    _, f1 = frames[1]
    _, f2 = frames[2]
    assert (f1[2, 2] == [0, 255, 0]).all()   # overlay visible in frame 1
    assert (f2[2, 2] == [255, 0, 0]).all()   # ...restored to red after
    assert (f2[4, 4] == [0, 0, 255]).all()   # final corner drawn


def test_resize_image_bilinear():
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import resize_image

    img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    assert np.array_equal(resize_image(img, 4, 5), img)  # identity
    const = np.full((7, 3, 3), 99, dtype=np.uint8)
    out = resize_image(const, 13, 9)
    assert out.shape == (13, 9, 3) and (out == 99).all()
    # center-aligned bilinear: [0, 100] -> 1x4 gives exact lerp values
    row = np.array([[0, 100]], dtype=np.uint8)
    got = resize_image(row, 1, 4)
    assert got.reshape(-1).tolist() == [0, 25, 75, 100]
    # grayscale 2-d input keeps its rank
    g = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert resize_image(g, 8, 8).shape == (8, 8)


def test_sample_frames_spark(spark):
    """End-to-end frame sampling: animated GIF frames REALLY decoded,
    MP4 emits metadata-true timestamps with the decode honestly
    stubbed, stills collapse to one frame."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        sample_frames,
    )

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0]], dtype=np.uint8)
    gif = _encode_animated_gif(
        pal,
        [
            {"idx": np.full((6, 6), 1, np.uint8), "x": 0, "y": 0, "delay_cs": 5},
            {"idx": np.full((6, 6), 2, np.uint8), "x": 0, "y": 0, "delay_cs": 5},
            {"idx": np.full((6, 6), 0, np.uint8), "x": 0, "y": 0, "delay_cs": 5},
            {"idx": np.full((6, 6), 1, np.uint8), "x": 0, "y": 0, "delay_cs": 5},
            {"idx": np.full((6, 6), 2, np.uint8), "x": 0, "y": 0, "delay_cs": 5},
            {"idx": np.full((6, 6), 0, np.uint8), "x": 0, "y": 0, "delay_cs": 5},
        ],
    )
    rng = np.random.default_rng(5)
    png = _encode_png(rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8))
    rows = [
        (1, "video", gif, None, None, None, None),
        (2, "video", _encode_mp4_meta(duration_s=8.0, w=320, h=180),
         None, None, None, None),
        (3, "image", png, None, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frames(media, n_frames=3).orderBy("media_id", "frame_idx")
    got = out.collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], []).append(r)
    # GIF: 3 of 6 frames, uniformly spread, all really decoded
    g = by_id[1]
    assert [r["frame_idx"] for r in g] == [0, 2, 5]  # linspace(0,5,3) rounded
    assert all(r["decoded"] for r in g)
    assert all(r["n_frames_total"] == 6 for r in g)
    assert [round(r["t_s"], 2) for r in g] == [0.0, 0.10, 0.25]
    # frame 0 is all-red, frame 2 all-black: channel means differ
    assert g[0]["feature"][0] == 255.0 and g[1]["feature"][0] == 0.0
    # MP4: 3 uniform timestamps over the real 8 s duration, decode stubbed
    m = by_id[2]
    assert [r["t_s"] for r in m] == [0.0, 8.0 / 3, 16.0 / 3]
    assert not any(r["decoded"] for r in m)
    assert all((r["width"], r["height"]) == (320, 180) for r in m)
    # still image: exactly one frame at t=0, really decoded
    s = by_id[3]
    assert len(s) == 1 and s[0]["t_s"] == 0.0 and s[0]["decoded"]


def test_resize_media_spark(spark):
    """Decode->resize->re-emit: fixed-size RGB24 buffers for decodable
    payloads, graceful decoded=false for garbage."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_media,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    rows = [
        (1, "image", _encode_png(img), None, None, None, None),
        (2, "image", b"\x89PNG\r\n\x1a\ngarbage", None, None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in resize_media(media, 16, 16).collect()}
    ok = got[1]
    assert ok["decoded"] and (ok["height"], ok["width"]) == (16, 16)
    assert len(ok["pixels"]) == 16 * 16 * 3
    # pixel buffer IS the bilinear resize of the source image
    from solar_data_tools_spark.operators.multimodal import resize_image

    want = resize_image(img, 16, 16)
    assert np.array_equal(
        np.frombuffer(ok["pixels"], dtype=np.uint8).reshape(16, 16, 3), want
    )
    assert ok["feature"][0] == float(want[:, :, 0].mean())
    bad = got[2]
    assert not bad["decoded"] and bad["pixels"] is None
    assert len(bad["feature"]) == 8


# ------------------------------------------------ progressive JPEG (SOF2)
def _jpeg_prog_huff_spec():
    """AC table for progressive scans needs the EOBn symbols (r<<4 for
    r=0..14) on top of the baseline set; single canonical length of 9
    bits covers all 176 symbols with the all-ones code unassigned."""
    dc_syms = list(range(12))
    ac_syms = (
        [(r << 4) for r in range(15)]
        + [0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    dc = {s: (i, 4) for i, s in enumerate(dc_syms)}
    ac = {s: (i, 9) for i, s in enumerate(ac_syms)}
    return dc_syms, ac_syms, dc, ac


def _encode_jpeg_progressive(img, al=1, band_split=5):
    """Progressive JPEG encoder (T.81 Annex G) for decoder tests:
    4:4:4, flat quant, successive approximation with ``al`` refinement
    levels and the AC spectrum split at ``band_split``. Scan script:
      1. DC first, interleaved, Al=al
      2. DC refine x al (one bit per scan)
      3. per component: AC first [1..band_split] and [band_split+1..63]
         at Al=al (exercises EOB runs across blocks)
      4. per component: AC refine [1..63] x al
    Encodes the SAME quantized coefficients as ``_encode_jpeg``, so the
    decode must match the baseline decode bit-for-bit."""
    import struct

    import numpy as np

    from solar_data_tools_spark.operators.multimodal import _DCT_C, _JPEG_ZZ

    gray = img.ndim == 2
    h, w = img.shape[:2]
    if gray:
        comps = [img.astype(np.float64)]
    else:
        px = img.astype(np.float64)
        y = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
        cb = (-0.168736 * px[:, :, 0] - 0.331264 * px[:, :, 1]
              + 0.5 * px[:, :, 2] + 128.0)
        cr = (0.5 * px[:, :, 0] - 0.418688 * px[:, :, 1]
              - 0.081312 * px[:, :, 2] + 128.0)
        comps = [y, cb, cr]
    ncomp = len(comps)
    nby, nbx = -(-h // 8), -(-w // 8)
    coefs = []
    for plane in comps:
        p = np.pad(plane, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge")
        cz = np.zeros((nby, nbx, 64), np.int64)
        for by in range(nby):
            for bx in range(nbx):
                blk = p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                cz[by, bx] = np.round(_DCT_C @ blk @ _DCT_C.T).astype(
                    np.int64
                ).reshape(-1)[_JPEG_ZZ]
        coefs.append(cz)
    dc_syms, ac_syms, dc_map, ac_map = _jpeg_prog_huff_spec()

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    counts_dc = bytes(12 if L == 4 else 0 for L in range(1, 17))
    counts_ac = bytes(len(ac_syms) if L == 9 else 0 for L in range(1, 17))
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 17 + 12) + b"\x00"
            + counts_dc + bytes(dc_syms))
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 17 + len(ac_syms)) + b"\x10"
            + counts_ac + bytes(ac_syms))

    def sos_header(comp_ids, ss, se, ah, al_):
        seg = bytes([len(comp_ids)])
        for cid in comp_ids:
            seg += bytes([cid, 0x00 if ss == 0 else 0x00 | 0x00])
        # DC scans use table (0,0); AC scans table (x,0) -> selector 0x00
        seg += bytes([ss, se, (ah << 4) | al_])
        return b"\xff\xda" + struct.pack(">H", 2 + len(seg)) + seg

    # --- scan 1: DC first, interleaved, point transform Al=al (floor shift)
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 0, al)
    bw = _JpegBitWriter()
    pred = [0] * ncomp
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(ncomp):
                v = int(coefs[ci][by, bx, 0]) >> al
                diff = v - pred[ci]
                pred[ci] = v
                size, bits = _jpeg_magnitude(diff)
                code, ln = dc_map[size]
                bw.write(code, ln)
                if size:
                    bw.write(bits, size)
    bw.flush()
    out += bw.out

    # --- DC refinement scans: one appended bit per block per scan
    for bit in range(al - 1, -1, -1):
        out += sos_header(list(range(1, ncomp + 1)), 0, 0, bit + 1, bit)
        bw = _JpegBitWriter()
        for by in range(nby):
            for bx in range(nbx):
                for ci in range(ncomp):
                    bw.write((int(coefs[ci][by, bx, 0]) >> bit) & 1, 1)
        bw.flush()
        out += bw.out

    def ac_first_scan(ci, ss, se, al_):
        bw = _JpegBitWriter()
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                code, ln = ac_map[r << 4]
                bw.write(code, ln)
                if r:
                    bw.write(eobrun - (1 << r), r)
                eobrun = 0

        for by in range(nby):
            for bx in range(nbx):
                band = [
                    int(np.sign(c)) * (abs(int(c)) >> al_)
                    for c in coefs[ci][by, bx, ss : se + 1]
                ]
                if not any(band):
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                last_nz = max(k for k, v in enumerate(band) if v)
                for k, v in enumerate(band):
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, ln = ac_map[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    size, bits = _jpeg_magnitude(v)
                    code, ln = ac_map[(run << 4) | size]
                    bw.write(code, ln)
                    bw.write(bits, size)
                    run = 0
                    if k == last_nz and k < len(band) - 1:
                        eobrun += 1
                        break
        flush_eob()
        bw.flush()
        return bw.out

    def ac_refine_scan(ci, ss, se, al_):
        """T.81 G.1.2.3: corrections under an EOB run buffer with the
        run (be_run); a block's own corrections ride just after its
        next emitted symbol (br)."""
        bw = _JpegBitWriter()
        eobrun = 0
        be_run: list[int] = []

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                code, ln = ac_map[r << 4]
                bw.write(code, ln)
                if r:
                    bw.write(eobrun - (1 << r), r)
                eobrun = 0
                for b in be_run:
                    bw.write(b, 1)
                be_run.clear()

        for by in range(nby):
            for bx in range(nbx):
                band = [int(c) for c in coefs[ci][by, bx, ss : se + 1]]
                t = [abs(v) >> al_ for v in band]
                newly = [k for k, tv in enumerate(t) if tv == 1]
                eob_k = newly[-1] if newly else -1
                run = 0
                br: list[int] = []
                for k, v in enumerate(band):
                    if t[k] == 0:
                        run += 1
                        continue
                    # ZRL window check at EVERY nonzero magnitude (T.81
                    # G.1.2.3 / libjpeg): buffered correction bits may
                    # never cross a 16-zero window boundary, so the run
                    # must flush before buffering this position — but
                    # only while a newly-significant coefficient is
                    # still ahead (k <= eob_k); trailing runs fold into
                    # the EOB instead.
                    while run > 15 and k <= eob_k:
                        flush_eob()
                        code, ln = ac_map[0xF0]
                        bw.write(code, ln)
                        run -= 16
                        for b in br:
                            bw.write(b, 1)
                        br = []
                    if t[k] > 1:  # already significant: correction bit
                        br.append(t[k] & 1)
                        continue
                    flush_eob()
                    code, ln = ac_map[(run << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if v > 0 else 0, 1)
                    for b in br:
                        bw.write(b, 1)
                    br = []
                    run = 0
                if run > 0 or br:
                    eobrun += 1
                    be_run.extend(br)
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        bw.flush()
        return bw.out

    for ci in range(ncomp):
        for ss, se in ((1, band_split), (band_split + 1, 63)):
            out += sos_header([ci + 1], ss, se, 0, al)
            out += ac_first_scan(ci, ss, se, al)
    for bit in range(al - 1, -1, -1):
        for ci in range(ncomp):
            out += sos_header([ci + 1], 1, 63, bit + 1, bit)
            out += ac_refine_scan(ci, 1, 63, bit)
    out += b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_progressive_matches_baseline():
    """A progressive (SOF2) stream carrying the SAME quantized
    coefficients as the baseline encoding decodes bit-identically to
    the baseline decode — DC/AC first passes, EOB runs, and both
    successive-approximation refinement paths all reconstruct
    exactly."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import decode_jpeg

    rng = np.random.default_rng(31)
    yy, xx = np.mgrid[0:24, 0:17]
    base = (yy * 5 + xx * 7) % 256
    img = np.stack([base, 255 - base, (base * 2) % 256], axis=2)
    img = np.clip(img + rng.integers(-8, 9, img.shape), 0, 255).astype(np.uint8)
    want = decode_jpeg(_encode_jpeg(img))
    got = decode_jpeg(_encode_jpeg_progressive(img, al=1))
    assert np.array_equal(got, want)
    # deeper successive approximation (2 refinement levels)
    got2 = decode_jpeg(_encode_jpeg_progressive(img, al=2, band_split=9))
    assert np.array_equal(got2, want)
    # grayscale single-component path
    g = ((yy * 11 + xx * 3) % 256).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(_encode_jpeg_progressive(g, al=1)),
        decode_jpeg(_encode_jpeg(g)),
    )
    # sparse image: long EOB runs across blocks, ZRL paths inside blocks
    sparse = np.zeros((40, 40, 3), dtype=np.uint8)
    sparse[13, 29] = [255, 0, 0]
    sparse[37, 2] = [0, 0, 255]
    assert np.array_equal(
        decode_jpeg(_encode_jpeg_progressive(sparse, al=1)),
        decode_jpeg(_encode_jpeg(sparse)),
    )


def test_media_feature_uses_progressive_jpeg_pixels():
    """Progressive JPEG payloads now produce REAL pixel features (the
    former byte-histogram fallback would be nowhere near the channel
    means)."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        media_feature,
        sniff_media,
    )

    img = np.full((16, 16, 3), 180, dtype=np.uint8)
    buf = _encode_jpeg_progressive(img, al=1)
    assert sniff_media(buf)["mime_type"] == "image/jpeg"
    feat = media_feature(buf)
    assert abs(feat[0] - 180.0) <= 2 and abs(feat[3] - 180.0) <= 2


def test_streaming_media_features_matches_batch(spark, tmp_path):
    """extract_features is stream-legal (stateless mapInPandas): an
    availableNow file stream over a media parquet produces the same
    per-payload features as the batch path — the ingest-time shape for
    continuous crawl processing."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_gif_animation,
        extract_features,
    )

    rows = []
    for mid in range(20):
        total = 2 + mid % 3
        frames = [
            np.full((6, 8, 3), (mid * 37 + k * 101) % 256, np.uint8)
            for k in range(total)
        ]
        rows.append(
            (mid, "video", encode_gif_animation(frames, [10] * total),
             None, None, None, None)
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    src = str(tmp_path / "media_src")
    media.write.parquet(src)

    stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(src)
    q = (
        extract_features(stream)
        .writeStream.format("memory")
        .queryName("media_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r["media_id"]: (r["content_hash"], tuple(r["feature"]))
        for r in spark.sql("select * from media_stream_test").collect()
    }
    batch = {
        r["media_id"]: (r["content_hash"], tuple(r["feature"]))
        for r in extract_features(media).collect()
    }
    assert streamed == batch and len(batch) == 20


def test_quantize_embeddings_semantics(spark):
    """Known vectors quantize exactly: endpoints map to 0/255, the
    reconstruction error is bounded by half a quantization step, and a
    constant vector degrades to all-zeros with zero error."""
    from solar_data_tools_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.0, 1.0, 0.5]),          # clean endpoints + midpoint
        (2, [3.25, 3.25, 3.25]),       # constant vector
        (3, [-2.0, 2.0]),              # negative range
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    assert got[1]["quantized"][0] == 0 and got[1]["quantized"][1] == 255
    assert got[1]["quantized"][2] == 128  # floor(127.5 + .5)
    assert got[2]["quantized"] == [0, 0, 0]
    assert got[2]["mean_abs_err"] == 0.0
    assert got[3]["quantized"] == [0, 255]
    for r in got.values():
        step = (r["vmax"] - r["vmin"]) / 255.0 if r["vmax"] > r["vmin"] else 0.0
        assert r["max_abs_err"] <= step / 2 + 1e-12


def test_chunk_documents_semantics(spark):
    """Chunk bounds tile the token stream: starts advance by stride,
    the tail truncates, every token is covered, and a short doc yields
    one whole-doc chunk."""
    from solar_data_tools_spark.operators.curation import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(80))   # 80 tokens
    edge_text = " ".join(f"w{i}" for i in range(33))   # window+1
    docs = spark.createDataFrame(
        [(1, long_text), (2, "just five little words here"), (3, edge_text)],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, window=32, stride=24)
    rows = sorted(
        [(r["doc_id"], r["chunk_id"], r["start_tok"], r["n_tok"])
         for r in out.collect()]
    )
    assert rows == [
        (1, 0, 0, 32), (1, 1, 24, 32), (1, 2, 48, 32),  # 48+32 == 80 exactly
        (2, 0, 0, 5),
        (3, 0, 0, 32), (3, 1, 24, 9),                   # truncated tail
    ]
    # md5 is over the actual chunk text (spot-check one)
    import hashlib

    toks = long_text.split(" ")
    want = hashlib.md5(" ".join(toks[24:56]).encode()).hexdigest()
    got = {
        (r["doc_id"], r["chunk_id"]): r["chunk_md5"] for r in out.collect()
    }
    assert got[(1, 1)] == want


def test_chunk_documents_rejects_gapping_stride(spark):
    """stride > window would leave inter-window tokens in NO chunk,
    violating the every-token-covered guarantee — rejected loudly."""
    import pytest as _pytest

    from solar_data_tools_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, window=8, stride=9)
    with _pytest.raises(ValueError, match="positive"):
        chunk_documents(docs, window=0, stride=1)


def test_streaming_chunking_matches_batch(spark, sf_small, tmp_path):
    """chunk_documents is stream-legal (stateless narrow ops): an
    availableNow file stream over the documents parquet yields exactly
    the batch chunking — the shape for chunking a continuously
    ingested corpus."""
    from solar_data_tools_spark.operators.curation import chunk_documents
    from solar_data_tools_spark.session import read_table

    docs = read_table(spark, f"{sf_small}/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (
        chunk_documents(stream, window=32, stride=24)
        .writeStream.format("memory")
        .queryName("chunk_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["chunk_id"]): (r["start_tok"], r["n_tok"], r["chunk_md5"])
        for r in spark.sql("select * from chunk_stream_test").collect()
    }
    batch = {
        (r["doc_id"], r["chunk_id"]): (r["start_tok"], r["n_tok"], r["chunk_md5"])
        for r in chunk_documents(docs, window=32, stride=24).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_sniff_webp_container():
    """All three WebP header variants (VP8 lossy keyframe, VP8L
    lossless, VP8X extended canvas) sniff to mime + exact dimensions."""
    import struct

    from solar_data_tools_spark.operators.multimodal import sniff_media

    def riff(chunks):
        body = b"WEBP" + b"".join(
            cid + struct.pack("<I", len(pl)) + pl + (b"\x00" if len(pl) % 2 else b"")
            for cid, pl in chunks
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # VP8 lossy: 3-byte frame tag + start code + 16-bit LE w/h (14 bits)
    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240)
    info = sniff_media(riff([(b"VP8 ", vp8)]))
    assert info["mime_type"] == "image/webp"
    assert (info["width"], info["height"]) == (320, 240)
    # VP8L lossless: 0x2f then 14+14 bits of (w-1, h-1)
    bits = (99 - 1) | ((77 - 1) << 14)
    vp8l = b"\x2f" + struct.pack("<I", bits)
    info = sniff_media(riff([(b"VP8L", vp8l)]))
    assert (info["width"], info["height"]) == (99, 77)
    # VP8X extended: 24-bit (w-1, h-1) canvas at bytes 4..9
    vp8x = b"\x00" * 4 + (640 - 1).to_bytes(3, "little") + (360 - 1).to_bytes(3, "little")
    info = sniff_media(riff([(b"VP8X", vp8x)]))
    assert (info["width"], info["height"]) == (640, 360)
    # WAV still sniffs as WAV (same RIFF magic, different form type)
    assert sniff_media(riff([]))["mime_type"] == "image/webp"


def test_audio_spectral_features():
    """dim>8 adds FFT spectral features: a pure tone's centroid lands on
    the tone frequency with near-zero flatness; white noise is flat; the
    8-dim prefix is bit-identical to the dim=8 contract."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import audio_feature

    rate = 8000
    t = np.arange(4 * rate)
    tone = 0.5 * np.sin(2 * np.pi * 1000 * t / rate)
    feat = audio_feature(tone, rate, dim=12)
    centroid, bandwidth, rolloff, flatness = feat[8:12]
    assert abs(centroid - 1000.0) < 5.0
    assert bandwidth < 50.0
    assert abs(rolloff - 1000.0) < 5.0
    assert flatness < 1e-6
    # white noise: centroid near band middle, flatness near 1
    rng = np.random.default_rng(7)
    noise = rng.standard_normal(4 * rate)
    nfeat = audio_feature(noise, rate, dim=12)
    assert 1600 < nfeat[8] < 2400  # ~rate/4 for flat spectrum
    assert nfeat[11] > 0.5
    # the stable 8-dim prefix is unchanged by asking for more dims
    assert feat[:8] == audio_feature(tone, rate, dim=8)
    # degenerate inputs keep the zero-padding contract
    assert audio_feature(np.zeros(16), rate, dim=12)[8:] == [0.0] * 4
    assert audio_feature(np.array([]), rate, dim=12) == [0.0] * 12


def test_line_dedup_boilerplate_removal(spark):
    """Frequent lines drop everywhere, order is preserved, short lines
    are exempt, and a doc whose every line is boilerplate rebuilds to
    an empty string (not NULL)."""
    from solar_data_tools_spark.operators.dedup import line_dedup

    rows = [
        (1, "BANNER LINE\nunique to one\nok"),
        (2, "BANNER LINE\nsecond doc body\nok"),
        (3, "BANNER LINE"),
        (4, "  BANNER LINE  \nalso fourth"),  # trims to the same key
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in line_dedup(
            spark.createDataFrame(rows, "doc_id int, text string"),
            min_doc_freq=3,
        ).collect()
    }
    assert out[1]["text"] == "unique to one\nok"  # 'ok' short -> exempt
    assert out[1]["n_lines"] == 3 and out[1]["n_dropped"] == 1
    assert out[2]["text"] == "second doc body\nok"
    assert out[3]["text"] == "" and out[3]["n_dropped"] == 1
    # the raw (untrimmed) line is what gets dropped in doc 4
    assert out[4]["text"] == "also fourth" and out[4]["n_dropped"] == 1


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode watermark semantics: a day-window emits once the
    watermark passes its end, and a row arriving LATER than the
    watermark bound must not change the already-emitted aggregate."""
    from datetime import datetime

    from solar_data_tools_spark.streaming import streaming_daily_stats

    src = str(tmp_path / "late_src")
    schema = "site long, ts timestamp, value double"

    def stage(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: two on-time day-1 rows, plus a day-5 row that advances the
    # max event time to Jan 5 -> watermark Jan 3 -> day-1 window closes
    stage(
        [
            (1, datetime(2020, 1, 1, 10, 0), 2.0),
            (1, datetime(2020, 1, 1, 11, 0), 4.0),
            (1, datetime(2020, 1, 5, 12, 0), 8.0),
        ]
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = streaming_daily_stats(stream, slots_per_day=288, watermark="2 days")
    q = (
        out.writeStream.format("memory")
        .queryName("late_stream_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE day-1 row (behind the Jan 3 watermark) plus a
        # far-future row that closes every remaining window
        stage(
            [
                (1, datetime(2020, 1, 1, 12, 0), 100.0),
                (1, datetime(2020, 2, 1, 12, 0), 1.0),
            ]
        )
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        str(r["date"]): (r["n_obs"], round(r["energy"], 6))
        for r in spark.sql("select * from late_stream_test").collect()
    }
    # day 1 emitted exactly once, from the two ON-TIME rows only (the
    # late 100.0 was dropped by the watermark, not merged or re-emitted)
    assert rows["2020-01-01"] == (2, round(6.0 * 24.0 / 288.0, 6))
    assert rows["2020-01-05"] == (1, round(8.0 * 24.0 / 288.0, 6))


def test_avi_mjpeg_roundtrip_and_sniff():
    """MJPEG/AVI: encode 4 JPEG frames into a spec-shaped AVI, sniff the
    container (mime/dimensions/duration from avih), and decode every
    frame back within JPEG flat-quant tolerance with exact timestamps."""
    import numpy as np

    from solar_data_tools_spark.operators.multimodal import (
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
        sniff_media,
    )

    h, w, fps = 16, 24, 10.0
    frames = []
    for k in range(4):
        yy, xx = np.mgrid[0:h, 0:w]
        base = (yy * 3 + xx * 5 + k * 40) % 256
        frames.append(
            np.stack([base, 255 - base, (base * 2) % 256], axis=2).astype(
                np.uint8
            )
        )
    avi = encode_avi_mjpeg([_encode_jpeg(f) for f in frames], fps, w, h)

    info = sniff_media(avi)
    assert info["mime_type"] == "video/avi"
    assert (info["width"], info["height"]) == (w, h)
    assert info["duration_s"] == pytest.approx(4 / fps, abs=1e-6)

    got = decode_avi_mjpeg_frames(avi)
    assert len(got) == 4
    for k, (t, img) in enumerate(got):
        assert t == pytest.approx(k / fps, abs=1e-6)
        assert img.shape == (h, w, 3)
        err = np.abs(img.astype(int) - frames[k].astype(int)).max()
        assert err <= 8, (k, err)


def test_avi_mjpeg_frame_sampling_and_feature(spark):
    """sample_frames over an MJPEG AVI yields REAL decoded frames
    (decoded=true, true dimensions, pixel features matching a direct
    decode); a non-MJPEG AVI degrades to the stub row. media_feature
    equals the first decoded frame's image feature."""
    import numpy as np
    import pandas as pd

    from solar_data_tools_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_avi_mjpeg_frames,
        encode_avi_mjpeg,
        extract_features,
        image_feature,
        media_feature,
        sample_frames,
    )

    h, w, fps = 12, 16, 5.0
    frames = [
        np.full((h, w, 3), 40 * (k + 1), dtype=np.uint8) for k in range(6)
    ]
    avi = encode_avi_mjpeg([_encode_jpeg(f) for f in frames], fps, w, h)
    # non-MJPEG: same container, garbage codec payloads
    bogus = encode_avi_mjpeg([b"\x00\x01notjpeg" for _ in range(3)], fps, w, h)

    rows = [
        (1, "video", avi, None, None, None, None),
        (2, "video", bogus, None, None, None, None),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["media_id", "modality", "content", "mime_type",
                     "width", "height", "duration_s"],
        ),
        schema=MEDIA_SCHEMA,
    )
    out = sample_frames(media, n_frames=3).collect()
    real = sorted(
        [r for r in out if r["media_id"] == 1], key=lambda r: r["frame_idx"]
    )
    assert len(real) == 3 and all(r["decoded"] for r in real)
    assert [r["n_frames_total"] for r in real] == [6, 6, 6]
    assert all((r["height"], r["width"]) == (h, w) for r in real)
    direct = {
        k: image_feature(img, 8)
        for k, (_, img) in enumerate(decode_avi_mjpeg_frames(avi))
    }
    for r in real:
        assert r["feature"] == pytest.approx(direct[r["frame_idx"]], abs=1e-9)
    stub = [r for r in out if r["media_id"] == 2]
    assert len(stub) == 1 and not stub[0]["decoded"]

    assert media_feature(avi, 8) == pytest.approx(direct[0], abs=1e-9)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["sniffed_mime"] == "video/avi"
    assert feats[1]["duration_s"] == pytest.approx(6 / fps, abs=1e-6)


def test_standardize_per_site_table_equals_scalar(spark):
    """standardize_time_axis with a per-site sampling TABLE must produce
    byte-identical grids to the scalar path when every site shares the
    cadence — the equivalence that makes per-site mode a strict
    generalization."""
    import pandas as pd

    from solar_data_tools_spark.operators.time_axis import (
        standardize_time_axis,
    )

    rows = []
    for s in range(3):
        for i in range(200):
            # jittered, gappy 5-min-ish series
            if (i * 7 + s) % 11 == 0:
                continue
            rows.append(
                (s,
                 pd.Timestamp("2024-05-01")
                 + pd.Timedelta(seconds=300 * i + (i % 3) * 20),
                 i, float(i % 17))
            )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["site", "ts", "seq", "value"])
    )
    scalar = (
        standardize_time_axis(df, 300)
        .orderBy("site", "grid_ts").toPandas()
    )
    tbl = spark.createDataFrame(
        [(s, 300) for s in range(3)], "site long, sampling_seconds long"
    )
    per_site = (
        standardize_time_axis(df, tbl)
        .orderBy("site", "grid_ts").toPandas()
    )
    assert len(scalar) == len(per_site)
    assert (scalar["grid_ts"].to_numpy() == per_site["grid_ts"].to_numpy()).all()
    a = scalar["value"].to_numpy()
    b = per_site["value"].to_numpy()
    assert ((a == b) | (pd.isna(a) & pd.isna(b))).all()


def test_segment_pooled_diffs_raises_on_fractional_without_digits(spark):
    """r9 verdict item 4: the integer-valued precondition is enforced IN
    the helper — fractional diffs without exact_digits fail loudly
    instead of silently inheriting an order-dependent float sum."""
    import pytest

    from solar_data_tools_spark.operators.windows import (
        segment_pooled_diffs,
    )

    rows = [
        (1, f"2024-01-0{i+1} 00:00:00", i, v)
        for i, v in enumerate([10.0, 10.0, 10.25, 11.5, 11.5])
    ]
    df = spark.createDataFrame(
        rows, "site int, ts string, seq long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(Exception, match="non-integer-valued diff"):
        segment_pooled_diffs(df).collect()
    # the tick-exact path completes and pools the fractional mass
    got = {
        r["seg_id"]: (r["pooled_diff"], r["seg_length"])
        for r in segment_pooled_diffs(df, exact_digits=4).collect()
    }
    # diffs: 0.0, 0.25, 1.25, 0.0 -> one nonzero segment of mass 1.5
    assert list(got.values()) == [(1.5, 2)]


def test_segment_pooled_diffs_integer_values_still_pass(spark):
    from solar_data_tools_spark.operators.windows import (
        segment_pooled_diffs,
    )

    rows = [
        (1, f"2024-01-0{i+1} 00:00:00", i, v)
        for i, v in enumerate([100.0, 100.0, 300.0, 300.0])
    ]
    df = spark.createDataFrame(
        rows, "site int, ts string, seq long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = segment_pooled_diffs(df).collect()
    assert [(r["pooled_diff"], r["seg_length"]) for r in got] == [(200.0, 1)]


def test_segment_pooled_diffs_magnitude_guard(spark):
    """The no-digits path also enforces the <2^53 magnitude half of
    its integer-exactness precondition (r10 review): huge
    integer-valued diffs raise loudly instead of summing with
    layout-dependent rounding."""
    import pytest

    from solar_data_tools_spark.operators.windows import (
        segment_pooled_diffs,
    )

    big = float(2**53)
    rows = [
        (1, f"2024-01-0{i+1} 00:00:00", i, v)
        for i, v in enumerate([0.0, big, big + 2.0, big + 4.0])
    ]
    df = spark.createDataFrame(
        rows, "site int, ts string, seq long, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # ADVICE r10: whichever guard evaluates first (row-level or
    # aggregate-level), a huge value must get the MAGNITUDE wording —
    # both spell the 9.0e15 bound and the exact_digits remedy
    with pytest.raises(Exception, match=">= 9.0e15"):
        segment_pooled_diffs(df).collect()


def test_dead_site_yields_null_clip_stats_not_ansi_error(spark):
    """r11 review: a site whose every value is 0.0 has site_max == 0 —
    clip_stat_1 must be NULL (DuckDB's x/0 -> NULL, matched by
    try_divide), never an ANSI DIVIDE_BY_ZERO that kills the fleet
    job; and the q169-style clipped indicator must count such days as
    not clipped."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.operators.daily import clipping_stats

    rows = [(1, f"2024-01-0{d}", 0.0) for d in range(1, 4)]
    df = spark.createDataFrame(
        rows, "site int, date string, value double"
    ).withColumn("date", F.col("date").cast("date"))
    out = clipping_stats(df, exact_digits=6).collect()
    assert len(out) == 3
    assert all(r["clip_stat_1"] is None for r in out)
    clipped = [
        r
        for r in out
        if r["clip_stat_1"] is not None
        and r["clip_stat_1"] > 0.05
        and r["clip_stat_2"] is not None
        and r["clip_stat_2"] > 0.1
    ]
    assert clipped == []


def test_dead_site_tz_mean_is_null_not_divide_by_zero(spark):
    """The q169 tz leg's noon mean uses try_divide: zero non-null noons
    (no reading ever above the sun threshold) must give a NULL mean ->
    whole-hour correction 0, not an ANSI error."""
    from pyspark.sql import functions as F

    from solar_data_tools_spark.registry import R, _psum

    noon = spark.createDataFrame(
        [(1, None), (1, None)], "site int, noon double"
    )
    tz = noon.groupBy("site").agg(
        F.try_divide(_psum(F.col("noon"), R), F.count("noon")).alias(
            "avg_noon"
        )
    )
    off0 = F.floor(F.lit(12.0) - F.col("avg_noon") + F.lit(0.5)).cast("int")
    got = tz.select(
        F.when(F.abs(off0) > 1, off0).otherwise(F.lit(0)).alias("tzc")
    ).collect()
    assert [r["tzc"] for r in got] == [0]
