"""Multimodal plumbing tests: schema, Arrow batch shape, pruning behavior.
The codec is a deterministic stub; the Spark-side pipeline is real."""

from pyspark.sql import functions as F

from squirreling_spark.pipeline.multimodal import (
    MEDIA_SCHEMA,
    decode_image,
    media_metadata,
    resize_plan,
)


def _media_df(spark):
    rows = [
        ("m1", "image", "png", b"\x89PNG-fake-1", (64, 48, None, None)),
        ("m2", "image", "jpeg", b"\xff\xd8-fake-2", (1920, 1080, None, None)),
        ("m3", "audio", "wav", b"RIFF-fake-3", (None, None, 1500, 16000)),
        ("m4", "image", "png", None, (32, 32, None, None)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_image_shapes(spark):
    df = _media_df(spark)
    out = decode_image(df.filter(F.col("kind") == "image"))
    rows = {r["media_id"]: r for r in out.collect()}
    assert set(rows) == {"m1", "m2", "m4"}
    assert rows["m1"]["n_pixels"] == rows["m1"]["width"] * rows["m1"]["height"]
    assert rows["m4"]["checksum"] is None  # null payload → null decode
    # deterministic: same payload, same fake decode
    again = {r["media_id"]: r for r in decode_image(df).collect()}
    assert again["m1"]["checksum"] == rows["m1"]["checksum"]


def test_media_metadata_skips_payload(spark, tmp_path):
    df = _media_df(spark)
    path = str(tmp_path / "media.parquet")
    df.write.mode("overwrite").parquet(path)
    meta = media_metadata(spark.read.parquet(path).drop("payload").withColumn(
        "payload", F.lit(None).cast("binary")))
    assert meta.count() == 4


def test_resize_plan(spark):
    df = _media_df(spark)
    plans = {r["media_id"]: r for r in resize_plan(df, max_dim=256).collect()}
    assert plans["m2"]["target_w"] == 256  # 1920x1080 → long edge 256
    assert plans["m1"]["scale"] == 1.0  # already smaller than 256


def _bmp_bytes(width: int, height: int) -> bytes:
    """Minimal valid-enough BMP: 'BM' magic + 12 header bytes + a
    BITMAPINFOHEADER with little-endian width/height at offsets 18/22."""
    import struct

    header = b"BM" + b"\x00" * 12          # magic + file header remainder
    info = struct.pack("<IiiHH", 40, width, height, 1, 24)
    return header + info + b"\x00" * 8     # pad past the read window


def test_bmp_dimensions_jvm_side(spark):
    from squirreling_spark.pipeline.multimodal import bmp_dimensions

    rows = [
        ("a", _bmp_bytes(640, 480)),
        ("b", _bmp_bytes(1, 100000)),
        ("c", b"NOTABMP" + b"\x00" * 32),   # wrong magic
        ("d", b"BM"),                       # too short
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in bmp_dimensions(df).collect()}
    assert out["a"]["is_bmp"] and (out["a"]["bmp_width"], out["a"]["bmp_height"]) == (640, 480)
    assert out["b"]["bmp_width"] == 1 and out["b"]["bmp_height"] == 100000
    assert not out["c"]["is_bmp"] and out["c"]["bmp_width"] is None
    assert not out["d"]["is_bmp"]
    # the whole parse is JVM expressions — no Python evaluator in the plan
    plan = bmp_dimensions(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bmp_top_down_negative_height(spark):
    """BITMAPINFOHEADER height is SIGNED int32: top-down BMPs store a
    negative height. The parse must recover the sign explicitly (ANSI-safe
    int cast) instead of wrapping around or erroring."""
    from squirreling_spark.pipeline.multimodal import (
        bmp_dimensions,
        image_dimensions,
    )

    rows = [("td", _bmp_bytes(640, -480)), ("bu", _bmp_bytes(640, 480))]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in bmp_dimensions(df).collect()}
    assert out["td"]["bmp_height"] == -480 and out["td"]["bmp_width"] == 640
    assert out["bu"]["bmp_height"] == 480
    full = {r["media_id"]: r for r in image_dimensions(df).collect()}
    assert full["td"]["fmt"] == "bmp" and full["td"]["height"] == -480


def _png_bytes(width: int, height: int) -> bytes:
    import struct

    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", width, height)
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )


def _jpeg_bytes(width: int, height: int, n_app: int = 2,
                sof_marker: bytes = b"\xff\xc0") -> bytes:
    import struct

    out = b"\xff\xd8"
    for i in range(n_app):                       # variable-length APPn chain
        payload = b"\x00" * (3 + i * 5)
        out += bytes([0xFF, 0xE0 + i]) + struct.pack(">H", 2 + len(payload)) + payload
    out += b"\xff\xdb" + struct.pack(">H", 7) + b"\x00" * 5   # DQT filler
    out += sof_marker + struct.pack(">H", 17)    # SOFn, len 8+3*3
    out += b"\x08" + struct.pack(">HH", height, width)
    out += b"\x03" + b"\x00" * 9 + b"\xff\xd9"
    return out


def test_image_dimensions_dispatch(spark):
    from squirreling_spark.pipeline.multimodal import image_dimensions

    rows = [
        ("bmp", _bmp_bytes(640, 480)),
        ("png", _png_bytes(1920, 1080)),
        ("jpg_baseline", _jpeg_bytes(320, 200)),
        ("jpg_progressive", _jpeg_bytes(77, 99, sof_marker=b"\xff\xc2")),
        ("jpg_many_segs", _jpeg_bytes(11, 22, n_app=5)),
        ("jpg_too_deep", _jpeg_bytes(1, 1, n_app=9)),   # beyond unroll bound
        ("jpg_truncated", b"\xff\xd8\xff\xe0"),
        ("garbage", b"\x00\x01\x02\x03" * 10),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in image_dimensions(df).collect()}
    assert (out["bmp"]["fmt"], out["bmp"]["width"], out["bmp"]["height"]) == ("bmp", 640, 480)
    assert (out["png"]["fmt"], out["png"]["width"], out["png"]["height"]) == ("png", 1920, 1080)
    assert (out["jpg_baseline"]["width"], out["jpg_baseline"]["height"]) == (320, 200)
    assert out["jpg_baseline"]["fmt"] == "jpeg"
    # SOF2 (progressive) also carries dimensions
    assert (out["jpg_progressive"]["width"], out["jpg_progressive"]["height"]) == (77, 99)
    # the scan walks a 6-segment chain before hitting SOF
    assert (out["jpg_many_segs"]["width"], out["jpg_many_segs"]["height"]) == (11, 22)
    # beyond the unroll bound: format detected, dimensions honestly NULL
    assert out["jpg_too_deep"]["fmt"] == "jpeg"
    assert out["jpg_too_deep"]["width"] is None
    assert out["jpg_truncated"]["fmt"] == "jpeg"
    assert out["jpg_truncated"]["width"] is None
    assert out["garbage"]["fmt"] is None
    assert out["null"]["fmt"] is None
    # still pure JVM expressions — no Python evaluator in the plan
    plan = image_dimensions(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _wav_bytes(channels: int, rate: int, secs: int, junk: int = 5) -> bytes:
    import struct

    byte_rate = rate * channels * 2
    out = b"RIFF" + struct.pack("<I", 0) + b"WAVE"
    out += b"JUNK" + struct.pack("<I", junk) + b"\x00" * (junk + junk % 2)
    out += b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                 byte_rate, channels * 2, 16)
    out += b"data" + struct.pack("<I", byte_rate * secs)
    return out


def test_wav_metadata_chunk_walk(spark):
    from squirreling_spark.pipeline.multimodal import wav_metadata

    rows = [
        ("stereo", _wav_bytes(2, 44100, 3)),
        ("mono_odd_junk", _wav_bytes(1, 8000, 1, junk=7)),   # odd → padding
        ("no_junk", _wav_bytes(2, 16000, 2, junk=0)),
        ("not_riff", b"OggS" + b"\x00" * 40),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in wav_metadata(df).collect()}
    s = out["stereo"]
    assert s["is_wav"] and (s["n_channels"], s["sample_rate"]) == (2, 44100)
    assert s["bits_per_sample"] == 16 and s["duration_ms"] == 3000
    m = out["mono_odd_junk"]
    assert (m["n_channels"], m["sample_rate"], m["duration_ms"]) == (1, 8000, 1000)
    assert out["no_junk"]["sample_rate"] == 16000
    assert not out["not_riff"]["is_wav"] and out["not_riff"]["sample_rate"] is None
    assert out["null"]["sample_rate"] is None
    plan = wav_metadata(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gif_dimensions(spark):
    from squirreling_spark.pipeline.multimodal import image_dimensions

    import struct
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    gif87 = b"GIF87a" + struct.pack("<HH", 13, 11) + b"\x00\x00\x00"
    df = spark.createDataFrame(
        [("g89", gif), ("g87", gif87)], "media_id string, payload binary"
    )
    out = {r["media_id"]: r for r in image_dimensions(df).collect()}
    assert (out["g89"]["fmt"], out["g89"]["width"], out["g89"]["height"]) == ("gif", 320, 200)
    assert (out["g87"]["width"], out["g87"]["height"]) == (13, 11)


# --- REAL pixel decoders (BMP numpy, PNG zlib+numpy) -----------------------


def _bmp24(pixels) -> bytes:
    """Encode rows of (r,g,b) tuples as a bottom-up 24-bit BI_RGB BMP."""
    import struct

    h, w = len(pixels), len(pixels[0])
    row_pad = (4 - (w * 3) % 4) % 4
    body = b""
    for row in reversed(pixels):           # bottom-up storage
        for r, g, b in row:
            body += bytes([b, g, r])       # BGR order
        body += b"\x00" * row_pad
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + body


def _png_rgb(pixels, filters) -> bytes:
    """Encode rows of (r,g,b) tuples as an 8-bit truecolor PNG, applying
    the given per-row filter types (exercises the decoder's unfilter)."""
    import struct
    import zlib

    h, w = len(pixels), len(pixels[0])

    def chunk(typ, body):
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body)))

    raw_rows = [bytes(c for px in row for c in px) for row in pixels]
    stream = b""
    prev = bytes(w * 3)
    for row, ft in zip(raw_rows, filters):
        line = bytearray(row)
        if ft == 1:      # Sub
            for x in range(len(line) - 1, 2, -1):
                line[x] = (line[x] - row[x - 3]) & 0xFF
        elif ft == 2:    # Up
            line = bytearray((row[x] - prev[x]) & 0xFF for x in range(len(row)))
        elif ft == 3:    # Average
            line = bytearray(
                (row[x] - ((row[x - 3] if x >= 3 else 0) + prev[x]) // 2) & 0xFF
                for x in range(len(row)))
        elif ft == 4:    # Paeth
            out = bytearray()
            for x in range(len(row)):
                a = row[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out.append((row[x] - pred) & 0xFF)
            line = out
        stream += bytes([ft]) + bytes(line)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(stream)) + chunk(b"IEND", b""))


_PIXELS = [
    [(255, 0, 0), (0, 255, 0), (17, 34, 51)],
    [(0, 0, 255), (255, 255, 255), (200, 100, 50)],
]


def test_real_bmp_pixel_decode(spark):
    df = spark.createDataFrame(
        [("bmp1", _bmp24(_PIXELS))], "media_id string, payload binary"
    )
    row = decode_image(df).collect()[0]
    assert row["decoder"] == "bmp"
    assert (row["width"], row["height"]) == (3, 2)
    import pytest
    assert row["mean_r"] == pytest.approx((255 + 0 + 17 + 0 + 255 + 200) / 6)
    assert row["mean_b"] == pytest.approx((0 + 0 + 51 + 255 + 255 + 50) / 6)


def test_real_png_pixel_decode_all_filters(spark):
    """One row per filter type 0-4 (5×5 image) — every unfilter branch
    must reconstruct the exact pixels."""
    import random

    rng = random.Random(7)
    px = [[(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(5)] for _ in range(5)]
    df = spark.createDataFrame(
        [("png1", _png_rgb(px, filters=[0, 1, 2, 3, 4]))],
        "media_id string, payload binary",
    )
    row = decode_image(df).collect()[0]
    assert row["decoder"] == "png"
    assert (row["width"], row["height"]) == (5, 5)
    import pytest
    flat = [c for r in px for p in r for c in p]
    assert row["mean_r"] == pytest.approx(sum(flat[0::3]) / 25)
    assert row["mean_g"] == pytest.approx(sum(flat[1::3]) / 25)
    assert row["mean_b"] == pytest.approx(sum(flat[2::3]) / 25)


def test_bmp_png_same_image_same_checksum(spark):
    """The checksum hashes CANONICAL top-down RGB pixels, so the same
    image encoded as BMP and as PNG must hash identically — proof both
    decoders reconstruct the actual pixel array."""
    df = spark.createDataFrame(
        [("as_bmp", _bmp24(_PIXELS)),
         ("as_png", _png_rgb(_PIXELS, filters=[0, 2]))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["as_bmp"]["decoder"] == "bmp"
    assert rows["as_png"]["decoder"] == "png"
    assert rows["as_bmp"]["checksum"] == rows["as_png"]["checksum"]
    assert rows["as_bmp"]["checksum"] is not None


def test_jpeg_falls_back_to_labeled_fake(spark):
    df = spark.createDataFrame(
        [("j1", b"\xff\xd8\xff\xe0 not-really-decodable")],
        "media_id string, payload binary",
    )
    row = decode_image(df).collect()[0]
    assert row["decoder"] == "fake"       # honest label
    assert row["mean_r"] is None          # no fabricated pixel stats


def _gif_lzw_encode(indices, mcs):
    """Reference LZW encoder (variable width, LSB-first) mirroring the
    decoder's table timeline: width bumps when next_code == 2^size + 1,
    table frozen at 4096."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = bitpos = 0

    def emit(code, size):
        nonlocal acc, bitpos
        acc |= code << bitpos
        bitpos += size
        while bitpos >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bitpos -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    size = mcs + 1
    emit(clear, size)
    buf = (indices[0],)
    for p in indices[1:]:
        cand = buf + (p,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], size)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << size) + 1 and size < 12:
                size += 1
        buf = (p,)
    emit(table[buf], size)
    emit(end, size)
    if bitpos:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_PAL = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (17, 34, 51)]


def _gif_bytes(index_rows, interlace=False):
    """Encode rows of palette indices as a real GIF89a (4-color global
    table, mcs=2, genuine LZW with table growth)."""
    import struct

    h, w = len(index_rows), len(index_rows[0])
    rows = list(index_rows)
    if interlace:
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        rows = [index_rows[y] for y in order]
    flat = [p for r in rows for p in r]
    data = _gif_lzw_encode(flat, 2)
    blocks = b""
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (
        b"GIF89a"
        + struct.pack("<HH", w, h)
        + bytes([0x81, 0, 0])
        + b"".join(bytes(c) for c in _GIF_PAL)
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        + bytes([0x40 if interlace else 0])
        + bytes([2])
        + blocks
        + b"\x00\x3b"
    )


def test_real_gif_pixel_decode(spark):
    """Genuine LZW stream (table growth through two width bumps) must
    reconstruct the exact indices → palette RGB means."""
    import random

    rng = random.Random(11)
    idx = [[rng.randrange(4) for _ in range(16)] for _ in range(8)]
    df = spark.createDataFrame(
        [("g1", _gif_bytes(idx))], "media_id string, payload binary"
    )
    row = decode_image(df).collect()[0]
    assert row["decoder"] == "gif"
    assert (row["width"], row["height"]) == (16, 8)
    import pytest

    flat = [p for r in idx for p in r]
    for ch, name in [(0, "mean_r"), (1, "mean_g"), (2, "mean_b")]:
        want = sum(_GIF_PAL[p][ch] for p in flat) / len(flat)
        assert row[name] == pytest.approx(want), name


def test_gif_interlaced_decode(spark):
    idx = [[(x + y) % 4 for x in range(5)] for y in range(9)]
    df = spark.createDataFrame(
        [("gi", _gif_bytes(idx, interlace=True)),
         ("gs", _gif_bytes(idx, interlace=False))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["gi"]["decoder"] == rows["gs"]["decoder"] == "gif"
    # interlaced and sequential encodings of the same image → same pixels
    assert rows["gi"]["checksum"] == rows["gs"]["checksum"]


def test_gif_bmp_same_image_same_checksum(spark):
    """Cross-format canonical-checksum equality now covers GIF too."""
    idx = [[(x * y) % 4 for x in range(6)] for y in range(4)]
    px = [[_GIF_PAL[p] for p in r] for r in idx]
    df = spark.createDataFrame(
        [("as_gif", _gif_bytes(idx)), ("as_bmp", _bmp24(px))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["as_gif"]["decoder"] == "gif"
    assert rows["as_bmp"]["decoder"] == "bmp"
    assert rows["as_gif"]["checksum"] == rows["as_bmp"]["checksum"]
    assert rows["as_gif"]["checksum"] is not None


# --- baseline JPEG round trip ----------------------------------------------

import numpy as np

QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99]
    + [99] * 32)
DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])



def _jenc_codes(bits, vals):
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out



def _jpeg_bytes_real(rgb_rows, restart_interval=0):
    """Reference baseline JPEG ENCODER (Annex K tables, canonical
    huffman, FDCT) — independent of the decoder under test."""
    import numpy as np
    from squirreling_spark.pipeline.multimodal import (
        _JPEG_ZIGZAG as ZZ,
        _jpeg_dct_mat,
    )

    M = _jpeg_dct_mat()
    rgb = np.asarray(rgb_rows, dtype=np.float64)
    h, w = rgb.shape[:2]
    assert h % 8 == 0 and w % 8 == 0
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        np.clip(p, 0, 255)
        for p in (
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128,
        )
    ]
    tabs = [(QL, _jenc_codes(*DC_L), _jenc_codes(*AC_L)),
            (QC, _jenc_codes(*DC_C), _jenc_codes(*AC_C)),
            (QC, _jenc_codes(*DC_C), _jenc_codes(*AC_C))]
    buf, acc, nbits = bytearray(), 0, 0

    def emit(code, length):
        nonlocal acc, nbits
        for i in range(length - 1, -1, -1):
            acc = (acc << 1) | ((code >> i) & 1)
            nbits += 1
            if nbits == 8:
                buf.append(acc)
                if acc == 0xFF:
                    buf.append(0x00)
                acc, nbits = 0, 0

    def mag(v):
        v = int(v)
        if v == 0:
            return 0, 0
        size = int(abs(v)).bit_length()
        return size, v if v > 0 else v + (1 << size) - 1

    preds = [0, 0, 0]
    mcu_idx = 0
    rst_n = 0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                # byte-align with 1-bits, raw RSTn marker, fresh predictions
                while nbits:
                    emit(1, 1)
                buf.append(0xFF)
                buf.append(0xD0 + rst_n % 8)
                rst_n += 1
                preds = [0, 0, 0]
            mcu_idx += 1
            for ci, plane in enumerate(planes):
                q, dct, act = tabs[ci]
                coef = M @ (plane[by:by + 8, bx:bx + 8] - 128.0) @ M.T
                zz = np.round(coef.flatten()[ZZ] / q[ZZ]).astype(int)
                size, bits = mag(zz[0] - preds[ci])
                preds[ci] = int(zz[0])
                c, ln = dct[size]
                emit(c, ln)
                if size:
                    emit(bits, size)
                nz = [i for i in range(1, 64) if zz[i]]
                last = nz[-1] if nz else 0
                run = 0
                for i in range(1, last + 1):
                    if zz[i] == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, ln = act[0xF0]
                        emit(c, ln)
                        run -= 16
                    size, bits = mag(zz[i])
                    c, ln = act[(run << 4) | size]
                    emit(c, ln)
                    emit(bits, size)
                    run = 0
                if last < 63:
                    c, ln = act[0x00]
                    emit(c, ln)
    while nbits:
        emit(1, 1)
    scan = bytes(buf)

    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(cls, tid, bits, vals):
        return seg(0xC4, bytes([cls << 4 | tid] + bits + list(vals)))

    return (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, bytes([0]) + bytes(QL[ZZ].astype(np.uint8)))
        + seg(0xDB, bytes([1]) + bytes(QC[ZZ].astype(np.uint8)))
        + seg(0xC0, bytes([8]) + struct.pack(">HH", h, w)
              + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
        + dht(0, 0, *DC_L) + dht(1, 0, *AC_L)
        + dht(0, 1, *DC_C) + dht(1, 1, *AC_C)
        + (seg(0xDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
        + seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + scan + b"\xff\xd9"
    )


def test_real_jpeg_flat_roundtrip(spark):
    """A flat block is DC-only: decode must land within quantization
    error of the source color (Annex-K DC steps are 16/17)."""
    import numpy as np

    src = np.full((8, 8, 3), 0, np.uint8)
    src[..., 0], src[..., 1], src[..., 2] = 180, 100, 40
    df = spark.createDataFrame(
        [("jf", bytearray(_jpeg_bytes_real(src)))],
        "media_id string, payload binary",
    )
    row = decode_image(df).collect()[0]
    assert row["decoder"] == "jpeg"
    assert (row["width"], row["height"]) == (8, 8)
    assert abs(row["mean_r"] - 180) < 6
    assert abs(row["mean_g"] - 100) < 6
    assert abs(row["mean_b"] - 40) < 6


def test_real_jpeg_gradient_close_and_deterministic(spark):
    """Multi-block gradient exercises AC coefficients, DC prediction
    across blocks, and both huffman table pairs; decode must be close in
    the mean (JPEG is lossy) and bit-deterministic across runs."""
    import numpy as np

    xs = np.linspace(0, 255, 24)
    ys = np.linspace(0, 255, 16)
    gx, gy = np.meshgrid(xs, ys)
    src = np.stack([gx, gy, np.full_like(gx, 64.0)], axis=-1).astype(np.uint8)
    payload = bytearray(_jpeg_bytes_real(src))
    df = spark.createDataFrame(
        [("jg", payload)], "media_id string, payload binary"
    )
    row1 = decode_image(df).collect()[0]
    row2 = decode_image(df).collect()[0]
    assert row1["decoder"] == "jpeg"
    assert (row1["width"], row1["height"]) == (24, 16)
    for ch, name in [(0, "mean_r"), (1, "mean_g"), (2, "mean_b")]:
        assert abs(row1[name] - src[..., ch].mean()) < 3, name
    assert row1["checksum"] == row2["checksum"] is not None


def test_invalid_progressive_scan_falls_back_to_labeled_fake(spark):
    """A baseline stream relabeled SOF2 is an INVALID progressive stream
    (its scan header has Ss=0, Se=63 — T.81 G.1.1.1.1 requires Se=0 for
    DC scans): must fall to the labeled fake, not misdecode. Real SOF2
    streams decode since round 5 (test_progressive_jpeg_*)."""
    real = bytearray(_jpeg_bytes_real([[(10, 20, 30)] * 8] * 8))
    sof = real.find(b"\xff\xc0")
    real[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2
    df = spark.createDataFrame(
        [("jp", real)], "media_id string, payload binary"
    )
    row = decode_image(df).collect()[0]
    assert row["decoder"] == "fake"
    assert row["mean_r"] is None


def test_wav_pcm_decode_stereo_and_fallbacks(spark):
    """decode_audio (pipeline/multimodal.py): stereo int16 samples with a
    known waveform decode to exact stats; non-PCM and truncated payloads
    return honest NULLs."""
    import struct

    from squirreling_spark.pipeline.multimodal import decode_audio

    def wav(channels, rate, frames, audio_fmt=1):
        data = b"".join(
            struct.pack("<" + "h" * channels, *f) for f in frames
        )
        fmt = struct.pack(
            "<HHIIHH", audio_fmt, channels, rate,
            rate * channels * 2, channels * 2, 16,
        )
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    frames = [(300, -300), (-300, 300), (300, -300), (-300, 300)]
    df = spark.createDataFrame(
        [
            ("stereo", wav(2, 16000, frames)),
            ("hires", wav(1, 96000, [(7,)] * 96)),  # rate > 65535: 4-byte field
            ("alaw", wav(1, 8000, [(5,), (5,)], audio_fmt=6)),
            ("junk", b"RIFFxxxxWAVEnope"),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_audio(df).collect()}
    s = rows["stereo"]
    assert s["decoder"] == "pcm16"
    assert (s["n_channels"], s["sample_rate"], s["n_samples"]) == (2, 16000, 4)
    assert s["duration_ms"] == 4 * 1000.0 / 16000
    assert s["peak"] == 300 and s["rms"] == 300.0
    # 96 kHz exercises the upper 2 bytes of the 4-byte fmt rate field —
    # a 2-byte read would yield 96000 % 65536 = 30464 and a wrong duration.
    h = rows["hires"]
    assert (h["sample_rate"], h["n_samples"]) == (96000, 96)
    assert h["duration_ms"] == 96 * 1000.0 / 96000
    assert rows["alaw"]["decoder"] is None   # non-PCM: honest NULL
    assert rows["junk"]["decoder"] is None


def test_mp4_box_walk(spark):
    """mp4_metadata: version-1 mvhd (64-bit times), an mdat-truncated
    payload (headers only — still parses), and a non-MP4 payload."""
    import struct

    from squirreling_spark.pipeline.multimodal import mp4_metadata

    def box(typ, body):
        return struct.pack(">I", 8 + len(body)) + typ + body

    mvhd_v1 = box(
        b"mvhd",
        b"\x01\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)            # 64-bit ctime/mtime
        + struct.pack(">I", 600)              # timescale
        + struct.pack(">Q", 1200)             # 64-bit duration
        + b"\x00" * 80,
    )
    moov = box(b"moov", mvhd_v1 + box(b"trak", b""))
    full = box(b"ftyp", b"isom\x00\x00\x00\x00") + moov
    # mdat declares 1MB but payload is cut right after the header
    truncated = full + struct.pack(">I", 1 << 20) + b"mdat"
    df = spark.createDataFrame(
        [("v1", bytearray(full)), ("cut", bytearray(truncated)),
         ("not", b"RIFFxxxxWAVE")],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in mp4_metadata(df).collect()}
    for k in ("v1", "cut"):
        assert rows[k]["is_mp4"] and rows[k]["timescale"] == 600
        assert rows[k]["duration_ms"] == 1200 * 1000.0 / 600
        assert rows[k]["n_tracks"] == 1
    assert not rows["not"]["is_mp4"]
    assert rows["not"]["timescale"] is None


def test_paletted_png_decode(spark):
    """Color-type-3 (indexed) PNG: same pixels as the truecolor BMP
    encoding — palette mapping + unfilter verified by the canonical
    checksum."""
    import struct
    import zlib

    idx_rows = [[(x + 2 * y) % 4 for x in range(6)] for y in range(4)]
    px = [[_GIF_PAL[p] for p in r] for r in idx_rows]

    def chunk(typ, body):
        c = typ + body
        return (
            struct.pack(">I", len(body)) + c
            + struct.pack(">I", zlib.crc32(c))
        )

    raw = b"".join(bytes([0]) + bytes(r) for r in idx_rows)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", b"".join(bytes(c) for c in _GIF_PAL))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [("p3", bytearray(png)), ("bmp", _bmp24(px))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["p3"]["decoder"] == "png"
    assert (rows["p3"]["width"], rows["p3"]["height"]) == (6, 4)
    assert rows["p3"]["checksum"] == rows["bmp"]["checksum"]


# --- progressive JPEG round trip -------------------------------------------

class _JBitWriter:
    """MSB-first bit emitter with FF00 stuffing (shared by the
    progressive encoder's scans)."""

    def __init__(self):
        self.buf, self.acc, self.nbits = bytearray(), 0, 0
        self.n_rst = 0

    def emit(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)
                self.acc, self.nbits = 0, 0

    def restart(self):
        """Byte-align with 1-bits, then a raw RSTn marker (T.81 F.1.2.3)."""
        while self.nbits:
            self.emit(1, 1)
        self.buf += bytes([0xFF, 0xD0 + self.n_rst % 8])
        self.n_rst += 1

    def done(self):
        while self.nbits:
            self.emit(1, 1)
        return bytes(self.buf)


def _jenc_quant_zz(rgb_rows):
    """(h, w, zz) — zz[ci] is (nblk, 64) quantized zigzag coefficients,
    identical math to the baseline encoder."""
    from squirreling_spark.pipeline.multimodal import (
        _JPEG_ZIGZAG as ZZ,
        _jpeg_dct_mat,
    )

    M = _jpeg_dct_mat()
    rgb = np.asarray(rgb_rows, dtype=np.float64)
    h, w = rgb.shape[:2]
    assert h % 8 == 0 and w % 8 == 0
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    planes = [
        np.clip(p, 0, 255)
        for p in (
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128,
        )
    ]
    qs = [QL, QC, QC]
    zz = [np.zeros(((h // 8) * (w // 8), 64), np.int64) for _ in planes]
    bi = 0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            for ci, plane in enumerate(planes):
                coef = M @ (plane[by:by + 8, bx:bx + 8] - 128.0) @ M.T
                zz[ci][bi] = np.round(
                    coef.flatten()[ZZ] / qs[ci][ZZ]
                ).astype(np.int64)
            bi += 1
    return h, w, zz


def _mag(v):
    v = int(v)
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


def _mcu_order(samplings, mcu_w, mcu_h):
    """(ci, block-grid index) MCU-interleaved visit order (mirrors the
    decoder's T.81 A.2.3 geometry)."""
    order = []
    for my in range(mcu_h):
        for mx in range(mcu_w):
            for ci, (hi, vi) in enumerate(samplings):
                cbw = mcu_w * hi
                for byy in range(vi):
                    for bxx in range(hi):
                        order.append(
                            (ci, (my * vi + byy) * cbw + (mx * hi + bxx))
                        )
    return order


def _enc_dc_first(zz, order, al, dc_tabs, rst=0):
    """``rst``: restart every that many ``order`` entries (0 = never)."""
    bw_ = _JBitWriter()
    preds = {}
    for n, (ci, bi) in enumerate(order):
        if rst and n and n % rst == 0:
            bw_.restart()
            preds = {}
        v = int(zz[ci][bi, 0]) >> al  # arithmetic shift (T.81 G.1.2.1)
        size, bits = _mag(v - preds.get(ci, 0))
        preds[ci] = v
        c, ln = dc_tabs[ci][size]
        bw_.emit(c, ln)
        if size:
            bw_.emit(bits, size)
    return bw_.done()


def _enc_dc_refine(zz, order, al, rst=0):
    bw_ = _JBitWriter()
    for n, (ci, bi) in enumerate(order):
        if rst and n and n % rst == 0:
            bw_.restart()
        bw_.emit((int(zz[ci][bi, 0]) >> al) & 1, 1)
    return bw_.done()


def _flush_eob(bw_, eobrun, pending, ac):
    if eobrun:
        r = eobrun.bit_length() - 1
        c, ln = ac[r << 4]
        bw_.emit(c, ln)
        if r:
            bw_.emit(eobrun - (1 << r), r)
        for b in pending:
            bw_.emit(b, 1)
        pending.clear()
    return 0


def _enc_ac_first(zz, ci, ss, se, al, ac, rst=0):
    bw_ = _JBitWriter()
    eobrun = 0
    for bi in range(zz[ci].shape[0]):
        if rst and bi and bi % rst == 0:  # EOB runs end at a restart
            eobrun = _flush_eob(bw_, eobrun, [], ac)
            bw_.restart()
        band = [int(v) for v in zz[ci][bi, ss:se + 1]]
        # point transform: truncation toward zero (T.81 G.1.2.2)
        band = [(abs(v) >> al) * (1 if v >= 0 else -1) for v in band]
        nz = [i for i, v in enumerate(band) if v]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _flush_eob(bw_, eobrun, [], ac)
            continue
        eobrun = _flush_eob(bw_, eobrun, [], ac)
        run = 0
        for i in range(nz[-1] + 1):
            if band[i] == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac[0xF0]
                bw_.emit(c, ln)
                run -= 16
            size, bits = _mag(band[i])
            c, ln = ac[(run << 4) | size]
            bw_.emit(c, ln)
            bw_.emit(bits, size)
            run = 0
        if nz[-1] < se - ss:  # block not coded through se: EOB
            eobrun += 1
    _flush_eob(bw_, eobrun, [], ac)
    return bw_.done()


def _enc_ac_refine(zz, ci, ss, se, al, ac, rst=0):
    """Mirror of the decoder's G.1.2.3 traversal: newly-significant
    coefficients (|v|>>al == 1) emit (run-of-zero-history, s=1) + sign,
    history coefficients (|v|>>al > 1) contribute interleaved correction
    bits; blocks without new coefficients join buffered EOB runs."""
    bw_ = _JBitWriter()
    eobrun, eob_pending = 0, []
    for bi in range(zz[ci].shape[0]):
        if rst and bi and bi % rst == 0:
            eobrun = _flush_eob(bw_, eobrun, eob_pending, ac)
            bw_.restart()
        band = [int(v) for v in zz[ci][bi, ss:se + 1]]
        absv = [abs(v) >> al for v in band]
        new = [i for i, m in enumerate(absv) if m == 1]
        if not new:
            eobrun += 1
            eob_pending.extend(
                (abs(band[i]) >> al) & 1 for i in range(len(band))
                if absv[i] > 1
            )
            if eobrun == 0x7FFF:
                eobrun = _flush_eob(bw_, eobrun, eob_pending, ac)
            continue
        eobrun = _flush_eob(bw_, eobrun, eob_pending, ac)
        run, pending = 0, []
        for i in range(new[-1] + 1):
            if absv[i] == 0:
                run += 1
                continue
            # libjpeg's encode_mcu_AC_refine: ZRLs go out before ANY
            # nonzero coefficient once 16 zeros are pending, so a history
            # coefficient past them gets its correction bit after the ZRL
            while run > 15:
                c, ln = ac[0xF0]
                bw_.emit(c, ln)
                for b in pending:
                    bw_.emit(b, 1)
                pending.clear()
                run -= 16
            if absv[i] > 1:  # history: correction bit rides along
                pending.append((abs(band[i]) >> al) & 1)
                continue
            c, ln = ac[(run << 4) | 1]
            bw_.emit(c, ln)
            bw_.emit(1 if band[i] > 0 else 0, 1)
            for b in pending:
                bw_.emit(b, 1)
            pending.clear()
            run = 0
        # trailing history corrections -> this block starts an EOB run
        tail = [
            (abs(band[i]) >> al) & 1
            for i in range(new[-1] + 1, len(band))
            if absv[i] > 1
        ]
        if new[-1] < se - ss or tail:
            eobrun += 1
            eob_pending.extend(tail)
    _flush_eob(bw_, eobrun, eob_pending, ac)
    return bw_.done()


class _SymRec(dict):
    """Huffman-table stand-in that records which RS symbols a scan emits
    (first pass of the two-pass progressive encode)."""

    def __init__(self):
        self.seen = set()

    def __getitem__(self, k):
        self.seen.add(k)
        return (0, 1)


def _canon_table(symbols):
    """Canonical table giving every symbol the same length L with
    2^L > n, so the all-ones code stays reserved (T.81 C.2)."""
    syms = sorted(symbols)
    n = len(syms)
    L = 1
    while (1 << L) <= n:
        L += 1
    bits = [0] * 16
    bits[L - 1] = n
    return bits, syms


def _jpeg_prog_bytes_real(rgb_rows, dc_al=1, ac_al=1, split_band=5,
                          restart_interval=0):
    """Progressive JPEG ENCODER (SOF2, T.81 Annex G): spectral selection
    (DC scan + split AC bands) with successive approximation (first pass
    at Al, then refinement scans down to 0) — the scan script shape
    libjpeg's default progressive mode emits. Each AC scan carries its
    own DHT (two-pass: record the scan's RS symbols, build a canonical
    table — EOB-run codes 0x10..0xE0 aren't in the Annex-K baseline
    tables). ``restart_interval`` > 0 adds DRI and ends each scan's
    restart interval (MCUs: 3 blocks in DC scans, 1 in AC scans) with a
    flushed EOB run, 1-bit padding and RSTn. Independent of the decoder
    under test."""
    import struct

    from squirreling_spark.pipeline.multimodal import _JPEG_ZIGZAG as ZZ

    h, w, zz = _jenc_quant_zz(rgb_rows)
    ri = restart_interval
    dc_tabs = [_jenc_codes(*DC_L), _jenc_codes(*DC_C), _jenc_codes(*DC_C)]

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(cls, tid, bits, vals):
        return seg(0xC4, bytes([cls << 4 | tid] + bits + list(vals)))

    def sos(comp_sel, ss, se, ah, al, data):
        # comp_sel: list of (component id 1-based, dc_tid, ac_tid)
        body = bytes([len(comp_sel)])
        for cid, dc_t, ac_t in comp_sel:
            body += bytes([cid, (dc_t << 4) | ac_t])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body) + data

    def ac_scan(enc_fn, ci, ss, se, al, ah):
        """Two-pass AC scan: record symbols, build + emit a fresh DHT
        (always table id 0), encode for real."""
        rec = _SymRec()
        enc_fn(zz, ci, ss, se, al, rec, ri)
        bits, syms = _canon_table(rec.seen or {0x00})
        return (
            dht(1, 0, bits, syms)
            + sos([(ci + 1, 0, 0)], ss, se, ah, al,
                  enc_fn(zz, ci, ss, se, al, _jenc_codes(bits, syms), ri))
        )

    out = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, bytes([0]) + bytes(QL[ZZ].astype(np.uint8)))
        + seg(0xDB, bytes([1]) + bytes(QC[ZZ].astype(np.uint8)))
        + seg(0xC2, bytes([8]) + struct.pack(">HH", h, w)
              + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
        + dht(0, 0, *DC_L) + dht(0, 1, *DC_C)
        + (seg(0xDD, struct.pack(">H", ri)) if ri else b"")
    )
    # scan 1: DC first pass, all components, Al=dc_al
    order_dc = _mcu_order([(1, 1)] * 3, w // 8, h // 8)
    out += sos(
        [(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, dc_al,
        _enc_dc_first(zz, order_dc, dc_al, dc_tabs, 3 * ri),
    )
    # AC first passes at Al=ac_al: luma split into two bands, chroma whole
    out += ac_scan(_enc_ac_first, 0, 1, split_band, ac_al, 0)
    out += ac_scan(_enc_ac_first, 0, split_band + 1, 63, ac_al, 0)
    for ci in (1, 2):
        out += ac_scan(_enc_ac_first, ci, 1, 63, ac_al, 0)
    # refinement scans down to Al=0
    for al in range(dc_al - 1, -1, -1):
        out += sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, al + 1, al,
                   _enc_dc_refine(zz, order_dc, al, 3 * ri))
    for al in range(ac_al - 1, -1, -1):
        for ci in (0, 1, 2):
            out += ac_scan(_enc_ac_refine, ci, 1, 63, al, al + 1)
    return out + b"\xff\xd9"


def test_progressive_jpeg_matches_baseline_pixels(spark):
    """A progressive (SOF2) encoding of the same quantized coefficients
    must decode to BIT-IDENTICAL pixels as the baseline encoding — the
    coefficient accumulators converge to the same values, so checksum
    equality is exact, not approximate. Exercises DC successive
    approximation, split AC bands, AC refinement with EOB-run correction
    bits."""
    xs = np.linspace(0, 255, 24)
    ys = np.linspace(0, 255, 16)
    gx, gy = np.meshgrid(xs, ys)
    src = np.stack(
        [gx, gy, (gx + gy) % 197], axis=-1
    ).astype(np.uint8)
    base = bytearray(_jpeg_bytes_real(src))
    prog = bytearray(_jpeg_prog_bytes_real(src, dc_al=1, ac_al=1))
    prog2 = bytearray(_jpeg_prog_bytes_real(src, dc_al=2, ac_al=2))
    prog0 = bytearray(_jpeg_prog_bytes_real(src, dc_al=0, ac_al=0))
    # 128x128: refinement bands with history coefficients past 16 zeros
    # (ZRL ahead of a correction bit)
    g = np.arange(128)
    gx, gy = np.meshgrid(g, g)
    big = np.stack([gx, gy, (gx * gy) % 256], axis=-1).astype(np.uint8)
    df = spark.createDataFrame(
        [("base", base), ("prog", prog), ("prog2", prog2),
         ("prog0", prog0),
         ("base128", bytearray(_jpeg_bytes_real(big))),
         ("prog128", bytearray(_jpeg_prog_bytes_real(big)))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["base"]["decoder"] == "jpeg"
    for k in ("prog", "prog2", "prog0"):
        assert rows[k]["decoder"] == "jpeg", k
        assert rows[k]["checksum"] == rows["base"]["checksum"], k
    assert rows["base128"]["decoder"] == rows["prog128"]["decoder"] == "jpeg"
    assert rows["prog128"]["checksum"] == rows["base128"]["checksum"]


def test_progressive_jpeg_flat_and_tiny(spark):
    """Degenerate progressive cases: flat single block (EOB-run-only AC
    scans) and a 2-block image."""
    flat = np.full((8, 8, 3), 0, np.uint8)
    flat[..., 0], flat[..., 1], flat[..., 2] = 180, 100, 40
    two = np.zeros((8, 16, 3), np.uint8)
    two[..., 0] = 200
    df = spark.createDataFrame(
        [
            ("f_b", bytearray(_jpeg_bytes_real(flat))),
            ("f_p", bytearray(_jpeg_prog_bytes_real(flat))),
            ("t_b", bytearray(_jpeg_bytes_real(two))),
            ("t_p", bytearray(_jpeg_prog_bytes_real(two))),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["f_p"]["checksum"] == rows["f_b"]["checksum"]
    assert rows["t_p"]["checksum"] == rows["t_b"]["checksum"]


# --- RLE8 / paletted BMP and 16-bit / greyscale PNG ------------------------

def _bmp8(idx_rows, pal, rle=False, top_down=False):
    """8-bit paletted BMP encoder: uncompressed or BI_RLE8 (encoded +
    absolute runs, EOL escapes)."""
    import struct

    h, w = len(idx_rows), len(idx_rows[0])
    pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal)
    rows = idx_rows if top_down else idx_rows[::-1]
    if rle:
        body = bytearray()
        for row in rows:
            x = 0
            while x < w:
                run = 1
                while x + run < w and row[x + run] == row[x] and run < 255:
                    run += 1
                if run >= 2:
                    body += bytes([run, row[x]])
                    x += run
                else:
                    # absolute run of up to 255 distinct bytes
                    end = x
                    while (
                        end < w and end - x < 255
                        and (end + 1 >= w or row[end + 1] != row[end])
                    ):
                        end += 1
                    n = end - x
                    if n >= 3:
                        body += bytes([0, n]) + bytes(row[x:end])
                        if n & 1:
                            body += b"\x00"
                        x = end
                    else:
                        body += bytes([1, row[x]])
                        x += 1
            body += b"\x00\x00"  # EOL
        body += b"\x00\x01"  # EOF
        comp, data = 1, bytes(body)
    else:
        comp, data = 0, b"".join(
            bytes(row) + b"\x00" * ((4 - w % 4) % 4) for row in rows
        )
    off = 14 + 40 + len(pal_bytes)
    hdr = (
        b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 8,
                      comp, len(data), 0, 0, len(pal), 0)
    )
    return hdr + pal_bytes + data


def test_bmp_rle8_and_paletted_match_truecolor(spark):
    """RLE8, uncompressed 8-bit paletted, and 24-bit truecolor encodings
    of the same image must decode to the same canonical checksum; runs,
    absolute runs, and row alignment all exercised."""
    import random

    rng = random.Random(5)
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (40, 80, 120)]
    # rows with long runs AND distinct stretches (absolute runs)
    idx = []
    for y in range(9):
        row = []
        while len(row) < 13:
            if rng.random() < 0.5:
                row += [rng.randrange(4)] * rng.randint(2, 6)
            else:
                row += [rng.randrange(4) for _ in range(rng.randint(3, 5))]
        idx.append(row[:13])
    px = [[pal[p] for p in r] for r in idx]
    df = spark.createDataFrame(
        [
            ("rle", _bmp8(idx, pal, rle=True)),
            ("pal8", _bmp8(idx, pal, rle=False)),
            ("pal8_td", _bmp8(idx, pal, rle=False, top_down=True)),
            ("true24", _bmp24(px)),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["true24"]["decoder"] == "bmp"
    for k in ("rle", "pal8", "pal8_td"):
        assert rows[k]["decoder"] == "bmp", k
        assert rows[k]["checksum"] == rows["true24"]["checksum"], k


def _png_raw(w, h, ctype, depth, scanlines, plte=None, interlace=0):
    import struct
    import zlib

    def chunk(typ, body):
        c = struct.pack(">I", len(body)) + typ + body
        return c + struct.pack(">I", zlib.crc32(typ + body))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(v for rgb in plte for v in rgb))
    out += chunk(b"IDAT", zlib.compress(b"".join(scanlines)))
    return out + chunk(b"IEND", b"")


def test_png_16bit_and_greyscale(spark):
    """16-bit truecolor must equal its 8-bit counterpart via the
    high-byte downscale (including under Sub/Paeth filters, which act on
    raw BYTES for 16-bit samples); greyscale replicates to RGB."""
    import numpy as np

    h, w = 6, 5
    rng = np.random.default_rng(3)
    rgb8 = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    # 8-bit truecolor, filter 0 rows
    sc8 = [b"\x00" + rgb8[y].tobytes() for y in range(h)]
    # 16-bit truecolor: hi byte = the 8-bit value, lo byte arbitrary
    lo = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    px16 = np.stack([rgb8, lo], axis=-1).reshape(h, w * 6)
    sc16 = [b"\x00" + px16[y].tobytes() for y in range(h)]
    # same 16-bit image with Sub filter on every row (bpp = 6 bytes)
    sc16_sub = []
    for y in range(h):
        line = px16[y].astype(np.int32)
        enc = line.copy()
        enc[6:] = (line[6:] - line[:-6]) & 0xFF
        sc16_sub.append(b"\x01" + enc.astype(np.uint8).tobytes())
    # greyscale 8-bit
    g = rng.integers(0, 256, (h, w), dtype=np.uint8)
    scg = [b"\x00" + g[y].tobytes() for y in range(h)]

    df = spark.createDataFrame(
        [
            ("p8", _png_raw(w, h, 2, 8, sc8)),
            ("p16", _png_raw(w, h, 2, 16, sc16)),
            ("p16s", _png_raw(w, h, 2, 16, sc16_sub)),
            ("grey", _png_raw(w, h, 0, 8, scg)),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    for k in ("p8", "p16", "p16s", "grey"):
        assert rows[k]["decoder"] == "png", k
    assert rows["p16"]["checksum"] == rows["p8"]["checksum"]
    assert rows["p16s"]["checksum"] == rows["p8"]["checksum"]
    import pytest

    assert rows["grey"]["mean_r"] == pytest.approx(float(g.mean()))
    assert rows["grey"]["mean_r"] == rows["grey"]["mean_g"]


# --- 4:2:0 subsampled JPEG round trip --------------------------------------

def _jpeg_bytes_420(rgb_rows):
    """Baseline 4:2:0 ENCODER: luma 2x2 blocks per MCU, chroma 2x2-mean
    downsampled, MCU-interleaved (T.81 A.2.3). Shares the Annex-K tables
    with the other encoders; independent of the decoder under test."""
    import struct

    from squirreling_spark.pipeline.multimodal import (
        _JPEG_ZIGZAG as ZZ,
        _jpeg_dct_mat,
    )

    M = _jpeg_dct_mat()
    rgb = np.asarray(rgb_rows, dtype=np.float64)
    h, w = rgb.shape[:2]
    assert h % 16 == 0 and w % 16 == 0
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = np.clip(0.299 * r + 0.587 * g + 0.114 * b, 0, 255)
    cb = np.clip(-0.168736 * r - 0.331264 * g + 0.5 * b + 128, 0, 255)
    cr = np.clip(0.5 * r - 0.418688 * g - 0.081312 * b + 128, 0, 255)
    # chroma: 2x2 mean downsample
    cb2 = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    cr2 = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))

    tabs = [(QL, _jenc_codes(*DC_L), _jenc_codes(*AC_L)),
            (QC, _jenc_codes(*DC_C), _jenc_codes(*AC_C)),
            (QC, _jenc_codes(*DC_C), _jenc_codes(*AC_C))]
    bw_ = _JBitWriter()
    preds = [0, 0, 0]

    def block(plane, by, bx, ci):
        q, dct, act = tabs[ci]
        coef = M @ (plane[by:by + 8, bx:bx + 8] - 128.0) @ M.T
        zzq = np.round(coef.flatten()[ZZ] / q[ZZ]).astype(int)
        size, bits = _mag(int(zzq[0]) - preds[ci])
        preds[ci] = int(zzq[0])
        c, ln = dct[size]
        bw_.emit(c, ln)
        if size:
            bw_.emit(bits, size)
        nz = [i for i in range(1, 64) if zzq[i]]
        last = nz[-1] if nz else 0
        run = 0
        for i in range(1, last + 1):
            if zzq[i] == 0:
                run += 1
                continue
            while run > 15:
                c, ln = act[0xF0]
                bw_.emit(c, ln)
                run -= 16
            size, bits = _mag(int(zzq[i]))
            c, ln = act[(run << 4) | size]
            bw_.emit(c, ln)
            bw_.emit(bits, size)
            run = 0
        if last < 63:
            c, ln = act[0x00]
            bw_.emit(c, ln)

    for my in range(h // 16):
        for mx in range(w // 16):
            for byy in range(2):          # 4 luma blocks per MCU
                for bxx in range(2):
                    block(y, my * 16 + byy * 8, mx * 16 + bxx * 8, 0)
            block(cb2, my * 8, mx * 8, 1)  # 1 Cb + 1 Cr
            block(cr2, my * 8, mx * 8, 2)
    scan = bw_.done()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(cls, tid, bits, vals):
        return seg(0xC4, bytes([cls << 4 | tid] + bits + list(vals)))

    return (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, bytes([0]) + bytes(QL[ZZ].astype(np.uint8)))
        + seg(0xDB, bytes([1]) + bytes(QC[ZZ].astype(np.uint8)))
        + seg(0xC0, bytes([8]) + struct.pack(">HH", h, w)
              + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]))
        + dht(0, 0, *DC_L) + dht(1, 0, *AC_L)
        + dht(0, 1, *DC_C) + dht(1, 1, *AC_C)
        + seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + scan + b"\xff\xd9"
    )


def test_jpeg_420_flat_matches_444(spark):
    """Constant-chroma image: 4:2:0 downsample+replicate is the identity
    on chroma, so 4:2:0 and 4:4:4 encodings decode to identical pixels."""
    src = np.zeros((16, 16, 3), np.uint8)
    src[..., 0], src[..., 1], src[..., 2] = 180, 100, 40
    df = spark.createDataFrame(
        [
            ("s420", bytearray(_jpeg_bytes_420(src))),
            ("s444", bytearray(_jpeg_bytes_real(src))),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["s420"]["decoder"] == "jpeg"
    assert (rows["s420"]["width"], rows["s420"]["height"]) == (16, 16)
    assert rows["s420"]["checksum"] == rows["s444"]["checksum"]


def test_jpeg_420_gradient_close(spark):
    """Multi-MCU gradient through the 4:2:0 path: means must land close
    to the source (chroma is lossy-downsampled; luma untouched), and the
    decode is deterministic."""
    xs = np.linspace(0, 255, 32)
    ys = np.linspace(255, 0, 32)
    gx, gy = np.meshgrid(xs, ys)
    src = np.stack([gx, gy, np.full_like(gx, 90.0)], -1).astype(np.uint8)
    df = spark.createDataFrame(
        [("g420", bytearray(_jpeg_bytes_420(src)))],
        "media_id string, payload binary",
    )
    r1 = decode_image(df).collect()[0]
    r2 = decode_image(df).collect()[0]
    assert r1["decoder"] == "jpeg"
    assert (r1["width"], r1["height"]) == (32, 32)
    for ch, name in [(0, "mean_r"), (1, "mean_g"), (2, "mean_b")]:
        assert abs(r1[name] - src[..., ch].mean()) < 4, name
    assert r1["checksum"] == r2["checksum"] is not None


def test_jpeg_restart_intervals(spark):
    """DRI + RSTn markers: decoding must reset DC predictions and
    re-byte-align at each restart — payloads with interval 1 (restart
    every MCU) and 3 must decode pixel-identically to the marker-free
    encoding of the same image."""
    xs = np.linspace(0, 255, 32)
    ys = np.linspace(255, 0, 16)
    gx, gy = np.meshgrid(xs, ys)
    src = np.stack([gx, gy, (gx * 0.5 + 30)], -1).astype(np.uint8)
    df = spark.createDataFrame(
        [
            ("plain", bytearray(_jpeg_bytes_real(src))),
            ("dri1", bytearray(_jpeg_bytes_real(src, restart_interval=1))),
            ("dri3", bytearray(_jpeg_bytes_real(src, restart_interval=3))),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["plain"]["decoder"] == "jpeg"
    for k in ("dri1", "dri3"):
        assert rows[k]["decoder"] == "jpeg", k
        assert rows[k]["checksum"] == rows["plain"]["checksum"], k


def _jpeg_prog_bytes_420(rgb_rows, dc_al=1, ac_al=1):
    """Progressive 4:2:0 ENCODER: MCU-interleaved DC scans over the
    subsampled grids + per-component non-interleaved AC scans with
    per-scan canonical tables — the combination real web encoders emit
    (libjpeg -progressive defaults to 4:2:0)."""
    import struct

    from squirreling_spark.pipeline.multimodal import (
        _JPEG_ZIGZAG as ZZ,
        _jpeg_dct_mat,
    )

    M = _jpeg_dct_mat()
    rgb = np.asarray(rgb_rows, dtype=np.float64)
    h, w = rgb.shape[:2]
    assert h % 16 == 0 and w % 16 == 0
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = np.clip(0.299 * r + 0.587 * g + 0.114 * b, 0, 255)
    cb = np.clip(-0.168736 * r - 0.331264 * g + 0.5 * b + 128, 0, 255)
    cr = np.clip(0.5 * r - 0.418688 * g - 0.081312 * b + 128, 0, 255)
    cb2 = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    cr2 = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
    qs = [QL, QC, QC]
    planes = [y, cb2, cr2]
    zz = []
    for ci, plane in enumerate(planes):
        ph, pw = plane.shape
        grid = np.zeros(((ph // 8) * (pw // 8), 64), np.int64)
        bi = 0
        for by in range(0, ph, 8):
            for bx in range(0, pw, 8):
                coef = M @ (plane[by:by + 8, bx:bx + 8] - 128.0) @ M.T
                grid[bi] = np.round(
                    coef.flatten()[ZZ] / qs[ci][ZZ]
                ).astype(np.int64)
                bi += 1
        zz.append(grid)

    dc_tabs = [_jenc_codes(*DC_L), _jenc_codes(*DC_C), _jenc_codes(*DC_C)]

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dht(cls, tid, bits, vals):
        return seg(0xC4, bytes([cls << 4 | tid] + bits + list(vals)))

    def sos(comp_sel, ss, se, ah, al, data):
        body = bytes([len(comp_sel)])
        for cid, dc_t, ac_t in comp_sel:
            body += bytes([cid, (dc_t << 4) | ac_t])
        body += bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body) + data

    def ac_scan(enc_fn, ci, ss, se, al, ah):
        rec = _SymRec()
        enc_fn(zz, ci, ss, se, al, rec)
        bits, syms = _canon_table(rec.seen or {0x00})
        return (
            dht(1, 0, bits, syms)
            + sos([(ci + 1, 0, 0)], ss, se, ah, al,
                  enc_fn(zz, ci, ss, se, al, _jenc_codes(bits, syms)))
        )

    order_dc = _mcu_order([(2, 2), (1, 1), (1, 1)], w // 16, h // 16)
    out = (
        b"\xff\xd8"
        + seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xDB, bytes([0]) + bytes(QL[ZZ].astype(np.uint8)))
        + seg(0xDB, bytes([1]) + bytes(QC[ZZ].astype(np.uint8)))
        + seg(0xC2, bytes([8]) + struct.pack(">HH", h, w)
              + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]))
        + dht(0, 0, *DC_L) + dht(0, 1, *DC_C)
    )
    out += sos(
        [(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, dc_al,
        _enc_dc_first(zz, order_dc, dc_al, dc_tabs),
    )
    for ci in (0, 1, 2):
        out += ac_scan(_enc_ac_first, ci, 1, 63, ac_al, 0)
    for al in range(dc_al - 1, -1, -1):
        out += sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, al + 1, al,
                   _enc_dc_refine(zz, order_dc, al))
    for al in range(ac_al - 1, -1, -1):
        for ci in (0, 1, 2):
            out += ac_scan(_enc_ac_refine, ci, 1, 63, al, al + 1)
    return out + b"\xff\xd9"


def test_progressive_420_matches_baseline_420(spark):
    """Progressive 4:2:0 (MCU-interleaved DC over subsampled grids +
    non-interleaved AC scans + successive approximation) must decode to
    BIT-IDENTICAL pixels as the baseline 4:2:0 encoding of the same
    quantized coefficients — the real-web format combination."""
    xs = np.linspace(0, 255, 32)
    ys = np.linspace(0, 200, 32)
    gx, gy = np.meshgrid(xs, ys)
    src = np.stack([gx, gy, (gx + 2 * gy) % 211], -1).astype(np.uint8)
    df = spark.createDataFrame(
        [
            ("b420", bytearray(_jpeg_bytes_420(src))),
            ("p420", bytearray(_jpeg_prog_bytes_420(src))),
            ("p420_al2", bytearray(_jpeg_prog_bytes_420(src, 2, 2))),
        ],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_image(df).collect()}
    assert rows["b420"]["decoder"] == "jpeg"
    for k in ("p420", "p420_al2"):
        assert rows[k]["decoder"] == "jpeg", k
        assert rows[k]["checksum"] == rows["b420"]["checksum"], k



# --- scan shapes through the one scan decoder ------------------------------

def _jpeg_bytes_scans(zz_planes, h, w, samplings, per_component):
    """Baseline (SOF0) stream from quantized zigzag blocks (one (nblk, 64)
    matrix per component, raster order, 1x1 MCU geometry): one
    MCU-interleaved scan, or ``per_component`` one non-interleaved scan
    per component (T.81 A.2.2). ``samplings`` are the SOF sampling bytes;
    a 1-component scan is non-interleaved whatever they say."""
    import struct

    from squirreling_spark.pipeline.multimodal import _JPEG_ZIGZAG as ZZ

    tabs = [(_jenc_codes(*DC_L), _jenc_codes(*AC_L))] + [
        (_jenc_codes(*DC_C), _jenc_codes(*AC_C))] * 2

    def block(bw_, zzq, pred, ci):
        dct, act = tabs[ci]
        size, bits = _mag(int(zzq[0]) - pred)
        bw_.emit(*dct[size])
        bw_.emit(bits, size)
        run = 0
        for k in range(1, 64):
            if zzq[k] == 0:
                run += 1
                continue
            while run > 15:
                bw_.emit(*act[0xF0])
                run -= 16
            size, bits = _mag(int(zzq[k]))
            bw_.emit(*act[(run << 4) | size])
            bw_.emit(bits, size)
            run = 0
        if run:
            bw_.emit(*act[0x00])
        return int(zzq[0])

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def sos(cis, data):
        body = bytes([len(cis)])
        for ci in cis:
            body += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
        return seg(0xDA, body + bytes([0, 63, 0])) + data

    ncomp = len(zz_planes)
    groups = [[ci] for ci in range(ncomp)] if per_component else [
        list(range(ncomp))]
    scans = b""
    for cis in groups:
        bw_, preds = _JBitWriter(), [0] * ncomp
        for bi in range(zz_planes[0].shape[0]):
            for ci in cis:
                preds[ci] = block(bw_, zz_planes[ci][bi], preds[ci], ci)
        scans += sos(cis, bw_.done())
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, samplings[ci], 0 if ci == 0 else 1])
    return (
        b"\xff\xd8"
        + seg(0xDB, bytes([0]) + bytes(QL[ZZ].astype(np.uint8)))
        + seg(0xDB, bytes([1]) + bytes(QC[ZZ].astype(np.uint8)))
        + seg(0xC0, sof)
        + seg(0xC4, bytes([0x00] + DC_L[0] + DC_L[1]))
        + seg(0xC4, bytes([0x10] + AC_L[0] + AC_L[1]))
        + seg(0xC4, bytes([0x01] + DC_C[0] + DC_C[1]))
        + seg(0xC4, bytes([0x11] + AC_C[0] + AC_C[1]))
        + scans + b"\xff\xd9"
    )


def _gradient(h, w):
    gx, gy = np.meshgrid(np.linspace(0, 255, w), np.linspace(255, 0, h))
    return np.stack([gx, gy, (gx + 3 * gy) % 181], -1).astype(np.uint8)


def _decode_rows(spark, payloads):
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "media_id string, payload binary",
    )
    return {r["media_id"]: r for r in decode_image(df).collect()}


def test_jpeg_non_interleaved_baseline_matches_interleaved(spark):
    """A baseline frame coded as three scans, one per component, decodes
    to the same pixels as the one interleaved scan of the same blocks —
    each scan adds its component to the frame's accumulator."""
    h, w, zz = _jenc_quant_zz(_gradient(16, 24))
    rows = _decode_rows(spark, {
        "one": _jpeg_bytes_scans(zz, h, w, [0x11] * 3, False),
        "three": _jpeg_bytes_scans(zz, h, w, [0x11] * 3, True),
        "real": _jpeg_bytes_real(_gradient(16, 24)),
    })
    for k in ("one", "three"):
        assert rows[k]["decoder"] == "jpeg", k
        assert rows[k]["checksum"] == rows["real"]["checksum"], k


def test_jpeg_single_component_ignores_sampling_byte(spark):
    """A 1-component scan is non-interleaved (T.81 A.2.2): its blocks run
    in the component's raster whatever sampling the SOF declares, so a
    greyscale frame marked 0x22 decodes like the same data marked 0x11 —
    also when the 2x2 MCU grid pads past the raster (24x8)."""
    for h, w in ((16, 32), (8, 24)):
        _, _, zz = _jenc_quant_zz(_gradient(h, w))
        rows = _decode_rows(spark, {
            f"s{b:x}": _jpeg_bytes_scans(zz[:1], h, w, [b], False)
            for b in (0x11, 0x22, 0x12)
        })
        assert rows["s11"]["decoder"] == "jpeg", (h, w)
        assert (rows["s11"]["width"], rows["s11"]["height"]) == (w, h)
        for k in ("s22", "s12"):
            assert rows[k]["decoder"] == "jpeg", (h, w, k)
            assert rows[k]["checksum"] == rows["s11"]["checksum"], (h, w, k)


def test_progressive_jpeg_restart_intervals(spark):
    """Progressive scans with DRI + RSTn: every scan resets its DC
    predictions and EOB run at each restart, in DC scans (3-block MCUs)
    and AC scans (1-block MCUs) alike; pixels match the restart-free
    encoding bit for bit."""
    src = _gradient(32, 40)
    rows = _decode_rows(spark, {
        "plain": _jpeg_prog_bytes_real(src),
        "dri1": _jpeg_prog_bytes_real(src, restart_interval=1),
        "dri3": _jpeg_prog_bytes_real(src, restart_interval=3),
        "dri7_al2": _jpeg_prog_bytes_real(src, 2, 2, restart_interval=7),
        "base": _jpeg_bytes_real(src),
    })
    for k in ("plain", "dri1", "dri3", "dri7_al2"):
        assert rows[k]["decoder"] == "jpeg", k
        assert rows[k]["checksum"] == rows["base"]["checksum"], k


def test_jpeg_sample_precision_other_than_8_falls_back(spark):
    """12-bit frames (P=12 in SOF0/SOF2) level-shift by 2048 and carry
    wider coefficients; this decoder covers 8-bit only, so they must fall
    to the labeled fake instead of decoding as 8-bit."""
    src = _gradient(16, 16)
    payloads = {}
    for name, enc in (("base", _jpeg_bytes_real), ("prog", _jpeg_prog_bytes_real)):
        real = bytearray(enc(src))
        payloads[name] = bytes(real)
        sof = max(real.find(b"\xff\xc0"), real.find(b"\xff\xc2"))
        real[sof + 4] = 12
        payloads[name + "12"] = bytes(real)
    rows = _decode_rows(spark, payloads)
    for name in ("base", "prog"):
        assert rows[name]["decoder"] == "jpeg", name
        assert rows[name + "12"]["decoder"] == "fake", name
        assert rows[name + "12"]["mean_r"] is None, name

def test_png_adam7_interlaced_matches_sequential(spark):
    """Adam7: 7 independently-filtered sub-images scattered onto the full
    raster — an interlaced encoding must decode checksum-identical to the
    sequential encoding, including at dimensions NOT divisible by 8
    (empty later passes on tiny dimensions exercised too)."""
    import numpy as np

    _ADAM7 = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]

    def interlaced_stream(px):
        h, w = px.shape[:2]
        out = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                out += b"\x00" + row.tobytes()
        return out

    rng = np.random.default_rng(9)
    for h, w in ((13, 11), (4, 4), (9, 17)):
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        seq = [b"\x00" + px[y].tobytes() for y in range(h)]
        df = spark.createDataFrame(
            [
                ("seq", _png_raw(w, h, 2, 8, seq)),
                ("adam7", _png_raw(w, h, 2, 8, [interlaced_stream(px)],
                                   interlace=1)),
            ],
            "media_id string, payload binary",
        )
        rows = {r["media_id"]: r for r in decode_image(df).collect()}
        assert rows["adam7"]["decoder"] == "png", (h, w)
        assert rows["adam7"]["checksum"] == rows["seq"]["checksum"], (h, w)


def test_decode_survives_corrupt_payloads(spark):
    """Crawl-robustness: random byte corruptions of valid BMP/PNG/GIF/
    JPEG payloads (including header bytes — hostile dimension fields)
    must NEVER raise out of decode_image; every input yields a row,
    either really decoded or the labeled fake. Also pins the decode-bomb
    guard: a header claiming 65535x65535 must go to the fake, not
    allocate a 12 GB raster in the executor."""
    import random
    import struct

    from squirreling_spark.pipeline.multimodal import _MAX_PIXELS

    rng = random.Random(42)
    idx = [[(x + y) % 4 for x in range(8)] for y in range(8)]
    px = [[_GIF_PAL[p] for p in r] for r in idx]
    rgbsrc = np.zeros((16, 16, 3), np.uint8)
    rgbsrc[..., 0] = 120
    seeds = [
        _bmp24(px),
        _bmp8(idx, _GIF_PAL, rle=True),
        _gif_bytes(idx),
        _png_raw(8, 8, 2, 8,
                 [b"\x00" + bytes(bytearray(v for p2 in r for v in _GIF_PAL[p2]))
                  for r in idx]),
        bytes(_jpeg_bytes_real(rgbsrc)),
        bytes(_jpeg_prog_bytes_real(rgbsrc)),
        bytes(_jpeg_bytes_420(rgbsrc)),
    ]
    rows = []
    n = 0
    for payload in seeds:
        for trial in range(25):
            b = bytearray(payload)
            for _ in range(rng.randint(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            rows.append((f"fz{n}", bytes(b)))
            n += 1
        # truncations
        for cut in (3, len(payload) // 3, len(payload) - 2):
            rows.append((f"fz{n}", payload[:cut]))
            n += 1
    # decode bombs: plausible magic, absurd dimensions
    bomb_bmp = bytearray(_bmp24(px))
    bomb_bmp[18:22] = struct.pack("<i", 60000)
    bomb_bmp[22:26] = struct.pack("<i", 60000)
    rows.append(("bomb_bmp", bytes(bomb_bmp)))
    bomb_jpg = bytearray(bytes(_jpeg_bytes_real(rgbsrc)))
    sof = bytes(bomb_jpg).find(b"\xff\xc0")
    bomb_jpg[sof + 5 : sof + 9] = struct.pack(">HH", 65535, 65535)
    rows.append(("bomb_jpg", bytes(bomb_jpg)))

    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = decode_image(df).collect()
    assert len(out) == len(rows)  # nothing crashed or vanished
    by_id = {r["media_id"]: r for r in out}
    for bomb in ("bomb_bmp", "bomb_jpg"):
        assert by_id[bomb]["decoder"] == "fake", bomb
        assert (by_id[bomb]["n_pixels"] or 0) <= _MAX_PIXELS


def test_dhash_bands_match_naive_reference():
    """_dhash_bands vs a from-scratch dHash on a random raster (resample
    indices, luma rounding, bit packing all re-derived independently)."""
    import numpy as np

    from squirreling_spark.pipeline.multimodal import _dhash_bands

    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(23, 31, 3)).astype(np.uint8)
    got = _dhash_bands(rgb)
    bits = []
    for r in range(8):
        y = (r * 23) // 8
        row = []
        for c in range(9):
            x = (c * 31) // 9
            p = rgb[y, x].astype(int)
            row.append((299 * p[0] + 587 * p[1] + 114 * p[2]) // 1000)
        bits.extend(1 if row[c] > row[c + 1] else 0 for c in range(8))
    want = [
        sum(b << (15 - k) for k, b in enumerate(bits[16 * i : 16 * i + 16]))
        for i in range(4)
    ]
    assert got == want


def test_dhash_brightness_shift_is_near_dup():
    """A mild brightness shift flips only wrap-boundary bits — total
    Hamming stays small; an unrelated pattern lands far away."""
    import numpy as np

    from squirreling_spark.pipeline.multimodal import _dhash_bands

    x = np.arange(9)[None, :, None]
    y = np.arange(8)[:, None, None]
    base = ((17 * x + 29 * y) % 256).astype(np.uint8).repeat(3, axis=2)
    shifted = ((17 * x + 29 * y + 2) % 256).astype(np.uint8).repeat(3, 2)
    rng = np.random.RandomState(1)
    noise = rng.randint(0, 256, size=(8, 9, 3)).astype(np.uint8)

    def ham(a, b):
        return sum(bin(p ^ q).count("1") for p, q in zip(a, b))

    ha, hs, hn = (
        _dhash_bands(base), _dhash_bands(shifted), _dhash_bands(noise)
    )
    assert ham(ha, hs) <= 8
    assert ham(ha, hn) > 8


def test_image_dhash_bands_null_for_undecodable(spark):
    from squirreling_spark.pipeline.multimodal import image_dhash_bands

    df = spark.createDataFrame(
        [("x", bytearray(b"not an image")), ("y", None)],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in image_dhash_bands(df).collect()}
    assert rows["x"]["b0"] is None and rows["y"]["b0"] is None


def test_dhash_near_dup_buckets_and_verifies(spark):
    from squirreling_spark.pipeline.multimodal import dhash_near_dup

    hashes = spark.createDataFrame(
        [
            ("a", 1, 2, 3, 4),
            ("b", 1, 2, 3, 5),      # shares 3 bands with a, hamming small
            ("c", 9999, 8888, 777, 66),   # no shared band with a/b
            ("d", 1, 60000, 50000, 40000),  # shares band 0 with a/b only
        ],
        "media_id string, b0 long, b1 long, b2 long, b3 long",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dhash_near_dup(hashes, max_hamming=16).collect()
    }
    assert pairs[("a", "b")] == bin(4 ^ 5).count("1")
    assert not any("c" in p for p in pairs)
    # d is a CANDIDATE via band 0 but fails the hamming verify
    assert not any("d" in p for p in pairs)


def test_dhash_near_dup_collapse_default(spark):
    # r8: the DEFAULT path exact-dedups the 64-bit hash first — identical
    # images cost one group row (n_members), never a pair; near-dup edges
    # connect group REPRESENTATIVES and carry both group sizes
    from squirreling_spark.pipeline.multimodal import (
        dhash_exact_groups,
        dhash_near_dup,
    )

    hashes = spark.createDataFrame(
        [
            ("a", 1, 2, 3, 4),
            ("b", 1, 2, 3, 4),      # exact dup of a
            ("e", 1, 2, 3, 4),      # exact dup of a
            ("c", 1, 2, 3, 5),      # near-dup of the {a,b,e} group
            ("x", 900, 800, 700, 600),  # unrelated
            ("u", None, None, None, None),  # undecodable
        ],
        "media_id string, b0 long, b1 long, b2 long, b3 long",
    )
    groups = {
        (r.b0, r.b1, r.b2, r.b3): (r.rep_id, r.n_members)
        for r in dhash_exact_groups(hashes).collect()
    }
    assert groups[(1, 2, 3, 4)] == ("a", 3)
    assert groups[(1, 2, 3, 5)] == ("c", 1)
    assert (None, None, None, None) not in groups

    edges = dhash_near_dup(hashes, max_hamming=16).collect()
    assert [(r.id_a, r.id_b, r.hamming, r.n_a, r.n_b) for r in edges] == [
        ("a", "c", 1, 3, 1)
    ]
    # legacy contract still enumerates member pairs (incl. hamming 0)
    legacy = {
        (r.id_a, r.id_b)
        for r in dhash_near_dup(
            hashes, max_hamming=16, collapse=False
        ).collect()
    }
    assert ("a", "b") in legacy and ("a", "c") in legacy


def test_audio_spectral_square_wave_and_nulls(spark):
    import struct

    from squirreling_spark.pipeline.multimodal import audio_spectral

    def wav(samples, channels=1, rate=8000):
        data = b"".join(struct.pack("<h", s) for s in samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                    rate * 2 * channels, 2 * channels, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    # 64-sample square wave, 8 periods -> bin 8 fundamental, bin 24 next
    sq = ([500] * 4 + [-500] * 4) * 8
    rows = {
        r.media_id: r
        for r in audio_spectral(
            spark.createDataFrame(
                [("sq", wav(sq)), ("bad", b"notawav"),
                 ("stereo", wav([1, 2] * 8, channels=2))],
                "media_id string, payload binary",
            )
        ).collect()
    }
    r = rows["sq"]
    assert r.n_samples == 64 and r.sample_rate == 8000
    assert r.peak_bin == 8 and r.harmonic_bin == 24
    assert r.peak_hz == 8 * 8000 / 64
    assert rows["bad"].peak_bin is None       # undecodable -> NULLs
    assert rows["stereo"].peak_bin is None    # mono-only contract
