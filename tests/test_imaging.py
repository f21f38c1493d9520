"""Real X5 decode (functions/imaging.py): known-answer vectors for every
PNG filter type, cross-validation against the JVM's javax.imageio (a
known-good third-party codec, the same parity pattern as the Avro Java
checks), hypothesis round-trips, and the Spark-level dispatch path.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from blockchaintoavro_spark.functions.imaging import (
    PNG_MAGIC,
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
    pixel_checksum,
    try_decode_image,
)


def _chunk(typ: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def _png_from_filtered(width, height, channels, filtered_rows) -> bytes:
    """Assemble a PNG from pre-filtered scanlines (filter byte included)."""
    ctype = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    raw = b"".join(filtered_rows)
    return (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def test_png_unfilter_known_answer_all_filters():
    """Hand-filtered scanlines (one per filter type 0-4) must decode to
    the hand-computed pixels — the unfilter math checked against the
    spec definitions, not against our own encoder."""
    w, ch = 4, 1  # 5 rows of 4 gray pixels
    pixels = [
        [10, 20, 30, 40],      # row 0: filter 0 (None)
        [15, 25, 35, 45],      # row 1: filter 1 (Sub):    raw = cur - left
        [17, 27, 37, 47],      # row 2: filter 2 (Up):     raw = cur - up
        [20, 30, 40, 50],      # row 3: filter 3 (Average) raw = cur - (l+u)//2
        [25, 35, 45, 55],      # row 4: filter 4 (Paeth)
    ]
    rows = []
    # row 0, None: stored as-is
    rows.append(bytes([0] + pixels[0]))
    # row 1, Sub: left neighbor within the row
    r = pixels[1]
    rows.append(bytes([1] + [r[0]] + [(r[i] - r[i - 1]) & 0xFF for i in range(1, w)]))
    # row 2, Up: neighbor from row 1
    rows.append(bytes([2] + [(pixels[2][i] - pixels[1][i]) & 0xFF for i in range(w)]))
    # row 3, Average of left (same row) and up (row 2)
    r, up = pixels[3], pixels[2]
    avg = [
        (r[i] - (((r[i - 1] if i else 0) + up[i]) >> 1)) & 0xFF for i in range(w)
    ]
    rows.append(bytes([3] + avg))
    # row 4, Paeth(left, up, upleft) — with these monotone rows the
    # predictor resolves to left for i>0 and up for i=0
    r, up = pixels[4], pixels[3]
    pae = [(r[0] - up[0]) & 0xFF] + [
        (r[i] - _paeth(r[i - 1], up[i], up[i - 1])) & 0xFF for i in range(1, w)
    ]
    rows.append(bytes([4] + pae))

    data = _png_from_filtered(w, len(pixels), ch, rows)
    info = decode_png(data)
    assert (info["width"], info["height"], info["channels"]) == (w, 5, 1)
    assert list(info["pixels"]) == [p for row in pixels for p in row]


def _paeth(a, b, c):
    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def test_png_rejects_corrupt_crc():
    data = bytearray(encode_png(3, 2, bytes(range(6)), 1))
    data[-6] ^= 0xFF  # flip a byte inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(data))


def test_pixel_checksum_known_vector():
    # 1*5 + 2*0 + 3*255 = 770; order sensitivity: swapping changes it
    assert pixel_checksum(bytes([5, 0, 255])) == 770
    assert pixel_checksum(bytes([255, 0, 5])) == 270
    assert pixel_checksum(b"") == 0


def test_bmp_known_answer_bottom_up_and_padding():
    """3x2 24bpp BMP: stored bottom-up with 4-byte row padding; decode
    must return top-down pixels with padding stripped."""
    top_down_bgr = bytes(range(18))  # 2 rows x 3 px x BGR
    data = encode_bmp(3, 2, top_down_bgr)
    # encoder stores the LAST logical row first on disk
    stride = 12  # 3*3 rounded up to 4
    offset = 54
    assert data[offset : offset + 9] == top_down_bgr[9:18]
    info = decode_bmp(data)
    assert (info["width"], info["height"], info["channels"]) == (3, 2, 3)
    assert info["pixels"] == top_down_bgr
    assert len(data) == offset + 2 * stride


def test_imageio_reads_our_png_and_bmp(spark):
    """Cross-codec parity: the JVM's javax.imageio (shipping with the
    Spark JVM) must read our encoder's output with identical dims and
    pixel values — the same third-party-validator pattern as the Avro
    Java parity tests."""
    import tempfile

    w, h = 5, 4
    rgb = bytes((13 * i) % 256 for i in range(w * h * 3))
    jvm = spark.sparkContext._jvm

    with tempfile.NamedTemporaryFile(suffix=".png") as fh:
        fh.write(encode_png(w, h, rgb, channels=3))
        fh.flush()
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(fh.name))
        assert (img.getWidth(), img.getHeight()) == (w, h)
        for y in range(h):
            for x in range(w):
                i = (y * w + x) * 3
                want = (0xFF << 24) | (rgb[i] << 16) | (rgb[i + 1] << 8) | rgb[i + 2]
                assert img.getRGB(x, y) & 0xFFFFFFFF == want

    # BMP stores BGR; the same RGB triple list maps to reversed bytes
    with tempfile.NamedTemporaryFile(suffix=".bmp") as fh:
        bgr = b"".join(
            bytes([rgb[i + 2], rgb[i + 1], rgb[i]]) for i in range(0, len(rgb), 3)
        )
        fh.write(encode_bmp(w, h, bgr))
        fh.flush()
        img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(fh.name))
        assert (img.getWidth(), img.getHeight()) == (w, h)
        for y in range(h):
            for x in range(w):
                i = (y * w + x) * 3
                want = (0xFF << 24) | (rgb[i] << 16) | (rgb[i + 1] << 8) | rgb[i + 2]
                assert img.getRGB(x, y) & 0xFFFFFFFF == want


def test_we_read_imageio_written_png(spark):
    """Inverse direction: a PNG written by the JVM codec (arbitrary
    filter choices we don't control) must decode to the same pixels."""
    import tempfile

    w, h = 6, 5
    jvm = spark.sparkContext._jvm
    img = jvm.java.awt.image.BufferedImage(w, h, 5)  # TYPE_3BYTE_BGR
    expect = []
    for y in range(h):
        for x in range(w):
            r, g, b = (x * 40) % 256, (y * 50) % 256, (x * y * 7) % 256
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            expect += [r, g, b]
    with tempfile.NamedTemporaryFile(suffix=".png") as fh:
        jvm.javax.imageio.ImageIO.write(img, "png", jvm.java.io.File(fh.name))
        with open(fh.name, "rb") as rd:
            info = decode_png(rd.read())
    assert (info["width"], info["height"], info["channels"]) == (w, h, 3)
    assert list(info["pixels"]) == expect


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    channels=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(w, h, channels, seed):
    n = w * h * channels
    px = bytes((seed * 2654435761 + i * 97) % 256 for i in range(n))
    info = decode_png(encode_png(w, h, px, channels))
    assert (info["width"], info["height"], info["channels"]) == (w, h, channels)
    assert info["pixels"] == px


@given(w=st.integers(1, 12), h=st.integers(1, 10), seed=st.integers(0, 2**31))
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(w, h, seed):
    px = bytes((seed * 40503 + i * 11) % 256 for i in range(w * h * 3))
    info = decode_bmp(encode_bmp(w, h, px))
    assert (info["width"], info["height"], info["channels"]) == (w, h, 3)
    assert info["pixels"] == px


def test_try_decode_image_dispatch():
    png = encode_png(2, 2, bytes(4), 1)
    assert try_decode_image(png)["format"] == "png"
    assert try_decode_image(encode_bmp(2, 2, bytes(12)))["format"] == "bmp"
    assert try_decode_image(b"plain text payload") is None
    assert try_decode_image(None) is None
    assert try_decode_image(b"") is None
    # BMP magic but garbage header: must refuse, not misparse
    assert try_decode_image(b"BM" + b"A" * 60) is None
    # PNG magic but truncated: refuse
    assert try_decode_image(PNG_MAGIC + b"\x00\x01") is None


def test_extract_features_real_decode_and_stub_fallback(spark):
    """Spark-level dispatch: a real PNG payload yields decoded dims +
    pixel checksum, a text payload falls back to the stub features."""
    from pyspark.sql import functions as F

    from blockchaintoavro_spark.operators.multimodal import extract_features

    w, h = 5, 3
    px = bytes((7 * i) % 256 for i in range(w * h))
    png = encode_png(w, h, px, 1)
    txt = b"not an image"
    df = spark.createDataFrame(
        [(1, bytearray(png), "image"), (2, bytearray(txt), "text")],
        "doc_id long, payload binary, modality string",
    )
    rows = {
        r["doc_id"]: r
        for r in extract_features(df).orderBy("doc_id").collect()
    }
    assert rows[1]["width"] == w and rows[1]["height"] == h
    assert rows[1]["checksum"] == pixel_checksum(px)
    assert rows[1]["n_bytes"] == len(png)
    assert rows[2]["width"] == txt[0] % 128 + 1  # stub path
    assert rows[2]["checksum"] == sum(txt) % (1 << 31)


# ---------------------------------------------------------------------------
# baseline JPEG (functions/jpeg.py — r4 VERDICT #1)


def _flat_block_image(doc_id, wb, hb, ch):
    w, h = 8 * wb, 8 * hb
    return w, h, bytes(
        (doc_id * 17 + (x // 8) * 29 + (y // 8) * 41 + c * 53) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


def test_jpeg_flat_block_roundtrip_exact():
    """With quant=1, flat 8×8 blocks have a DC-only integer spectrum, so
    the lossy codec becomes the identity — the exactness guarantee the
    x_jpeg_decode oracle builds on — for gray AND 3-channel images."""
    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, encode_jpeg

    for doc_id, wb, hb, ch in [(0, 1, 1, 1), (7, 3, 2, 3), (12, 2, 2, 1), (99, 3, 1, 3)]:
        w, h, px = _flat_block_image(doc_id, wb, hb, ch)
        dec = decode_jpeg(encode_jpeg(w, h, px, ch, quant=1))
        assert (dec["width"], dec["height"], dec["channels"]) == (w, h, ch)
        assert dec["pixels"] == px


def test_roundtrip_synthesizers_exact_for_large_ids(spark):
    """The id-arithmetic synthesizers must give the Python-int pixels
    for ids whose ``id·31`` / ``id·17`` lands between 2^63 and 2^64,
    where mixing the id with an int64 array used to promote to float64
    and silently corrupt the image."""
    from blockchaintoavro_spark.operators.multimodal import (
        image_roundtrip_features,
        jpeg_roundtrip_features,
    )

    ids = [0, 1, 2, 300000000000000005, 600000000000000007]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")

    def image_px(doc_id):
        n = (4 + doc_id % 13) * (3 + doc_id % 7) * (1 if doc_id % 2 == 0 else 3)
        return bytes((doc_id * 31 + 7 * i) % 256 for i in range(n))

    def jpeg_px(doc_id):
        ch = 1 if doc_id % 2 == 0 else 3
        return _flat_block_image(doc_id, 1 + doc_id % 3, 1 + doc_id % 2, ch)[2]

    for op, px in (
        (image_roundtrip_features, image_px),
        (jpeg_roundtrip_features, jpeg_px),
    ):
        got = {r["doc_id"]: r["checksum"] for r in op(df).collect()}
        want = {i: pixel_checksum(px(i)) for i in ids}
        assert got == want, op.__name__


@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    channels=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_quant1_roundtrip_property(w, h, channels, seed):
    """quant=1 on ARBITRARY images (incl. non-multiple-of-8 dims → edge
    block padding + crop): reconstruction within ±2 per sample. The loss
    is DCT-coefficient rounding; quantize-round and IDCT-round can stack
    in the same direction, so ±1 was empirically WRONG — hypothesis
    found a ±2 example (pinned below) that reproduces identically on
    every prior version of the codec. Flat-block EXACTNESS (the oracle
    contract) is a separate test and unaffected."""
    import random

    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rnd = random.Random(seed)
    px = bytes(rnd.randrange(256) for _ in range(w * h * channels))
    dec = decode_jpeg(encode_jpeg(w, h, px, channels, quant=1))
    assert (dec["width"], dec["height"], dec["channels"]) == (w, h, channels)
    assert max(abs(a - b) for a, b in zip(px, dec["pixels"])) <= 2


def test_jpeg_quant1_error2_regression():
    """The hypothesis-found double-rounding boundary (w=10, h=2, seed
    154): error is exactly 2, stable, and identical on the pre-round-6
    codec — pinned so the tolerance above stays honest."""
    import random

    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, encode_jpeg

    rnd = random.Random(154)
    px = bytes(rnd.randrange(256) for _ in range(10 * 2))
    dec = decode_jpeg(encode_jpeg(10, 2, px, 1, quant=1))
    assert max(abs(a - b) for a, b in zip(px, dec["pixels"])) == 2


def test_jpeg_large_image_mid_scan_flush_exact():
    """≥4096-block decode (the r8 deferred-IDCT flush branch,
    jpeg.py:800-802): every other test decodes ≤625 blocks, so the
    mid-scan flush never fired in the suite. 560×560 gray = 4,900 flat
    blocks at quant=1 must round-trip EXACTLY — the flush happens at an
    arbitrary point inside the block stream and must not disturb plane
    placement or the DC predictor chain."""
    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h, px = _flat_block_image(5, 70, 70, 1)  # 70×70 blocks = 4,900
    dec = decode_jpeg(encode_jpeg(w, h, px, 1, quant=1))
    assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 1)
    assert dec["pixels"] == px


def test_jpeg_coarse_quant_still_decodes():
    """A coarser quant table (real-world-shaped lossy setting) must keep
    dims/channels exact and smooth content close (bounded quant error)."""
    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, encode_jpeg

    w, h = 21, 14
    px = bytes(min(255, 30 + x * 6 + y * 4) for y in range(h) for x in range(w))
    dec = decode_jpeg(encode_jpeg(w, h, px, 1, quant=4))
    assert (dec["width"], dec["height"]) == (w, h)
    assert max(abs(a - b) for a, b in zip(px, dec["pixels"])) <= 16


def test_jpeg_rejects_bad_magic_arithmetic_and_truncated_progressive():
    from blockchaintoavro_spark.functions.jpeg import decode_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")
    # SOI + minimal SOF2: progressive now DISPATCHES (r5 VERDICT #5),
    # but a stream with no DQT/SOS is still a descriptive ValueError
    sof2 = b"\xff\xd8" + b"\xff\xc2" + struct.pack(">H", 11) + bytes(
        [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    with pytest.raises(ValueError, match="quant"):
        decode_jpeg(sof2)
    # arithmetic-coded (SOF9) remains out of scope
    sof9 = b"\xff\xd8" + b"\xff\xc9" + struct.pack(">H", 11) + bytes(
        [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    with pytest.raises(ValueError, match="SOF"):
        decode_jpeg(sof9)


def test_imageio_reads_our_jpeg_gray(spark):
    """Encoder parity proof: the JVM's ImageIO (IJG-based) must decode
    our gray JFIF bytes to the source pixels within IDCT rounding (±1)."""
    from blockchaintoavro_spark.functions.jpeg import encode_jpeg

    jvm = spark.sparkContext._jvm
    w, h = 24, 16
    px = bytes((x * 7 + y * 11) % 256 for y in range(h) for x in range(w))
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".jpg", delete=False) as fh:
        fh.write(encode_jpeg(w, h, px, 1, quant=1))
        path = fh.name
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    assert (img.getWidth(), img.getHeight()) == (w, h)
    got = bytes((b + 256) % 256 for b in img.getRaster().getDataElements(0, 0, w, h, None))
    assert max(abs(a - b) for a, b in zip(px, got)) <= 1


def test_imageio_reads_our_jpeg_color(spark):
    """3-component 4:4:4 bytes from our encoder (raw Y/Cb/Cr planes):
    ImageIO's RGB decode must match our ycbcr_to_rgb of the same planes
    within rounding (±2) — cross-validating the scan structure, chroma
    table selection AND the documented color contract."""
    from blockchaintoavro_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        ycbcr_to_rgb,
    )

    jvm = spark.sparkContext._jvm
    w, h = 16, 16
    px = bytes(
        ((x * 9 + y) % 256, (128 + x * 3) % 256, (128 + y * 5) % 256)[c]
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    data = encode_jpeg(w, h, px, 3, quant=1)
    dec = decode_jpeg(data)
    assert max(abs(a - b) for a, b in zip(px, dec["pixels"])) <= 1
    ours_rgb = ycbcr_to_rgb(dec["pixels"], w, h)
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".jpg", delete=False) as fh:
        fh.write(data)
        path = fh.name
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    ref = bytes((b + 256) % 256 for b in img.getRaster().getDataElements(0, 0, w, h, None))
    # this raster's dataElements come back in R,G,B order (verified in-test
    # below via getRGB, which is unambiguous)
    p0 = img.getRGB(0, 0)
    assert ref[0] == (p0 >> 16) & 255 and ref[2] == p0 & 255
    assert max(abs(a - b) for a, b in zip(ours_rgb, ref)) <= 2


def test_we_read_imageio_written_jpeg_gray_and_420(spark):
    """Decoder parity the other direction: files written by ImageIO —
    gray (no subsampling) and default color (4:2:0, exercising the
    triangular chroma upsample) — must decode to ImageIO's own pixel
    values within rounding (gray ±1, color ±2)."""
    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, ycbcr_to_rgb

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="jpeg_jvm_")
    w, h = 19, 13  # odd dims: MCU padding + crop on both sides

    img = BI(w, h, BI.TYPE_BYTE_GRAY)
    gray = bytes((x * 13 + y * 7) % 256 for y in range(h) for x in range(w))
    img.getRaster().setDataElements(0, 0, w, h, bytearray(gray))
    pg = os.path.join(d, "g.jpg")
    jvm.javax.imageio.ImageIO.write(img, "jpg", jvm.java.io.File(pg))
    dec = decode_jpeg(open(pg, "rb").read())
    assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 1)
    ref = bytes(
        (b + 256) % 256
        for b in jvm.javax.imageio.ImageIO.read(jvm.java.io.File(pg))
        .getRaster()
        .getDataElements(0, 0, w, h, None)
    )
    assert max(abs(a - b) for a, b in zip(ref, dec["pixels"])) <= 1

    img2 = BI(w, h, BI.TYPE_3BYTE_BGR)
    for y in range(h):
        for x in range(w):
            r, g, b = (x * 9) % 200 + 20, (y * 13) % 200 + 20, ((x + y) * 5) % 200 + 20
            img2.setRGB(x, y, (r << 16) | (g << 8) | b)
    pc = os.path.join(d, "c.jpg")
    jvm.javax.imageio.ImageIO.write(img2, "jpg", jvm.java.io.File(pc))
    dec2 = decode_jpeg(open(pc, "rb").read())
    assert dec2["channels"] == 3
    ours = ycbcr_to_rgb(dec2["pixels"], w, h)
    img3 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(pc))
    ref2 = bytes(
        (b + 256) % 256
        for b in img3.getRaster().getDataElements(0, 0, w, h, None)
    )
    assert max(abs(a - b) for a, b in zip(ours, ref2)) <= 2


def test_jpeg_progressive_flat_block_roundtrip_exact():
    """The oracle contract extends to progressive (r5 VERDICT #5): flat
    8×8 blocks are DC-only, and ``(d>>1)<<1 | (d&1) == d`` in two's
    complement, so quant=1 flat images survive the DC successive-
    approximation scans (Al=1 then refine) bit-exactly."""
    from blockchaintoavro_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    for w, h, ch in [(8, 8, 1), (24, 16, 3), (19, 13, 1), (21, 11, 3)]:
        px = bytearray(w * h * ch)
        for y in range(h):
            for x in range(w):
                for c in range(ch):
                    px[(y * w + x) * ch + c] = (
                        (x // 8) * 29 + (y // 8) * 41 + c * 53 + 17
                    ) % 256
        dec = decode_jpeg(encode_jpeg_progressive(w, h, bytes(px), ch))
        assert (dec["width"], dec["height"], dec["channels"]) == (w, h, ch)
        assert dec["pixels"] == bytes(px)


def test_jpeg_progressive_equals_baseline_on_arbitrary_content():
    """Strong equivalence: for ANY pixel content, the progressive scan
    script carries exactly the same quantized coefficients as the
    baseline encoding, so the two decodes must be IDENTICAL (not merely
    close) — any error in AC first/refinement, EOB runs, ZRL spans or
    the correction-bit interleave diverges the bytes."""
    import random

    from blockchaintoavro_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = random.Random(11)
    for trial in range(6):
        w, h, ch = rng.choice(
            [(8, 8, 1), (17, 9, 1), (16, 16, 3), (23, 14, 3), (40, 33, 1)]
        )
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        base = decode_jpeg(encode_jpeg(w, h, px, ch))
        prog = decode_jpeg(encode_jpeg_progressive(w, h, px, ch))
        assert base["pixels"] == prog["pixels"], f"trial {trial}"


def test_we_read_imageio_written_progressive_jpeg(spark):
    """Cross-impl parity for REAL progressive scripts: the JVM's IJG
    encoder in progressive mode (spectral-selection bands, optimized
    Huffman tables, EOBn>0 runs — none of which our own encoder emits)
    must decode to ImageIO's own pixel values within IDCT rounding."""
    from blockchaintoavro_spark.functions.jpeg import decode_jpeg, ycbcr_to_rgb

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="jpeg_prog_jvm_")

    def write_progressive(img, path):
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
        param = writer.getDefaultWriteParam()
        param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(
            jvm.java.io.File(path)
        )
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
        ios.close()
        writer.dispose()

    # gray, large enough that smooth regions produce multi-block EOB runs
    w, h = 64, 48
    img = BI(w, h, BI.TYPE_BYTE_GRAY)
    gray = bytes(min(255, (x + y) * 2) for y in range(h) for x in range(w))
    img.getRaster().setDataElements(0, 0, w, h, bytearray(gray))
    pg = os.path.join(d, "g.jpg")
    write_progressive(img, pg)
    data = open(pg, "rb").read()
    assert b"\xff\xc2" in data  # really progressive (SOF2 marker)
    dec = decode_jpeg(data)
    assert (dec["width"], dec["height"], dec["channels"]) == (w, h, 1)
    ref = bytes(
        (b + 256) % 256
        for b in jvm.javax.imageio.ImageIO.read(jvm.java.io.File(pg))
        .getRaster()
        .getDataElements(0, 0, w, h, None)
    )
    assert max(abs(a - b) for a, b in zip(ref, dec["pixels"])) <= 1

    # color (4:2:0 subsampled by default → interleaved DC scan with
    # per-component block loops + chroma upsample on the same path)
    w2, h2 = 37, 25
    img2 = BI(w2, h2, BI.TYPE_3BYTE_BGR)
    for y in range(h2):
        for x in range(w2):
            r, g, b = (x * 11) % 200 + 20, (y * 17) % 200 + 20, ((x + y) * 7) % 200 + 20
            img2.setRGB(x, y, (r << 16) | (g << 8) | b)
    pc = os.path.join(d, "c.jpg")
    write_progressive(img2, pc)
    data2 = open(pc, "rb").read()
    assert b"\xff\xc2" in data2
    dec2 = decode_jpeg(data2)
    assert dec2["channels"] == 3
    ours = ycbcr_to_rgb(dec2["pixels"], w2, h2)
    ref2 = bytes(
        (b + 256) % 256
        for b in jvm.javax.imageio.ImageIO.read(jvm.java.io.File(pc))
        .getRaster()
        .getDataElements(0, 0, w2, h2, None)
    )
    assert max(abs(a - b) for a, b in zip(ours, ref2)) <= 2


def test_imageio_reads_our_progressive_jpeg(spark):
    """Encoder validity the other direction: the IJG decoder must accept
    our progressive scan script and reproduce the flat-block pixels
    exactly (gray; quant=1 → DC-only → lossless)."""
    from blockchaintoavro_spark.functions.jpeg import encode_jpeg_progressive

    jvm = spark.sparkContext._jvm
    import os
    import tempfile

    w, h = 24, 16
    px = bytes(((x // 8) * 50 + (y // 8) * 30 + 40) % 256 for y in range(h) for x in range(w))
    d = tempfile.mkdtemp(prefix="jpeg_prog_rev_")
    path = os.path.join(d, "p.jpg")
    with open(path, "wb") as fh:
        fh.write(encode_jpeg_progressive(w, h, px, 1))
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    assert img.getWidth() == w and img.getHeight() == h
    ref = bytes(
        (b + 256) % 256
        for b in img.getRaster().getDataElements(0, 0, w, h, None)
    )
    assert ref == px


# ---------------------------------------------------------------------------
# GIF (functions/gif.py)


def test_gif_single_frame_identity():
    from blockchaintoavro_spark.functions.gif import decode_gif, encode_gif

    w, h = 23, 11
    f0 = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    dec = decode_gif(encode_gif(w, h, [f0]))
    assert (dec["width"], dec["height"], dec["channels"], dec["n_frames"]) == (w, h, 3, 1)
    for c in range(3):  # gray palette: every channel equals the index
        assert dec["pixels"][c::3] == f0


@given(
    w=st.integers(1, 20),
    h=st.integers(1, 15),
    n_frames=st.integers(1, 4),
    n_colors=st.sampled_from([4, 16, 256]),
    seed=st.integers(0, 2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_multiframe_roundtrip_property(w, h, n_frames, n_colors, seed):
    """Arbitrary dims × frame counts × palette sizes: LZW encode→decode
    must be the identity on every frame (incl. code-width growth)."""
    import random

    from blockchaintoavro_spark.functions.gif import decode_gif_frames, encode_gif

    rnd = random.Random(seed)
    palette = [(i, (i * 3) % 256, (i * 7) % 256) for i in range(n_colors)]
    frames = [
        bytes(rnd.randrange(n_colors) for _ in range(w * h)) for _ in range(n_frames)
    ]
    d = decode_gif_frames(encode_gif(w, h, frames, palette=palette))
    assert (d["width"], d["height"], len(d["frames"])) == (w, h, n_frames)
    for k, f in enumerate(frames):
        got = d["frames"][k]
        for i, idx in enumerate(f):
            assert got[3 * i : 3 * i + 3] == bytes(palette[idx]), (k, i)


def test_gif_interlaced_decode():
    """Hand-built interlaced image: rows stored in four-pass order must
    come back in natural order."""
    from blockchaintoavro_spark.functions.gif import decode_gif, encode_gif

    w, h = 4, 10
    natural = [bytes([r] * w) for r in range(h)]
    pass_order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    seq = encode_gif(w, h, [b"".join(natural[r] for r in pass_order)])
    # flip the interlace flag on the (sole) image descriptor, which sits
    # right after the 13-byte header + 768-byte global color table
    i = 13 + 3 * 256
    assert seq[i] == 0x2C
    flags = seq[i + 9]
    inter = seq[: i + 9] + bytes([flags | 0x40]) + seq[i + 10 :]
    dec = decode_gif(inter)
    assert dec["pixels"][0::3] == b"".join(natural)


def test_gif_subrect_transparency_composite():
    """Frame 2 is a 2×2 sub-rect at (1,1) with a transparent index: the
    composited frame must equal frame 1 with only the opaque patch
    pixels replaced."""
    import struct as _s

    from blockchaintoavro_spark.functions.gif import decode_gif_frames, encode_gif

    w, h = 5, 4
    f0 = bytes(range(w * h))
    base = encode_gif(w, h, [f0])
    # append: GCE (transparent index 99) + 2×2 image at (1,1) with
    # indices [7, 99, 99, 9], then move the trailer
    patch_indices = bytes([7, 99, 99, 9])
    from blockchaintoavro_spark.functions.gif import _lzw_encode

    lzw = _lzw_encode(8, patch_indices)
    extra = (
        b"\x21\xf9\x04\x01\x00\x00\x63\x00"  # GCE: transparency on, idx 0x63
        + b"\x2c" + _s.pack("<HHHH", 1, 1, 2, 2) + b"\x00"
        + bytes([8, len(lzw)]) + lzw + b"\x00"
    )
    data = base[:-1] + extra + b"\x3b"
    d = decode_gif_frames(data)
    assert len(d["frames"]) == 2
    expect = bytearray(f0)
    expect[1 * w + 1] = 7  # (1,1) opaque
    expect[2 * w + 2] = 9  # (2,2) opaque; (2,1) and (1,2) transparent
    assert d["frames"][1][0::3] == bytes(expect)


def test_imageio_reads_our_gif(spark):
    """The JVM's ImageIO must read our GIF89a bytes back to the same
    colors (lossless format — exact match via getRGB)."""
    from blockchaintoavro_spark.functions.gif import encode_gif

    jvm = spark.sparkContext._jvm
    import os
    import tempfile

    w, h = 9, 6
    f0 = bytes((x * 11 + y * 29) % 256 for y in range(h) for x in range(w))
    d = tempfile.mkdtemp(prefix="gif_jvm_")
    p = os.path.join(d, "ours.gif")
    open(p, "wb").write(encode_gif(w, h, [f0]))
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
    assert (img.getWidth(), img.getHeight()) == (w, h)
    for y in range(h):
        for x in range(w):
            v = f0[y * w + x]
            assert img.getRGB(x, y) & 0xFFFFFF == (v << 16) | (v << 8) | v


def test_we_read_imageio_written_gif(spark):
    """And the other direction: an ImageIO-written GIF decodes to the
    same pixels ImageIO itself reads back (exact — lossless)."""
    from blockchaintoavro_spark.functions.gif import decode_gif

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    import os
    import tempfile

    w, h = 11, 7
    img = BI(w, h, BI.TYPE_BYTE_GRAY)
    gray = bytes((x * 37 + y * 53) % 256 for y in range(h) for x in range(w))
    img.getRaster().setDataElements(0, 0, w, h, bytearray(gray))
    d = tempfile.mkdtemp(prefix="gif_jvm_w_")
    p = os.path.join(d, "jvm.gif")
    jvm.javax.imageio.ImageIO.write(img, "gif", jvm.java.io.File(p))
    dec = decode_gif(open(p, "rb").read())
    img2 = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
    for y in range(h):
        for x in range(w):
            ref = img2.getRGB(x, y)
            o = (y * w + x) * 3
            got = (dec["pixels"][o] << 16) | (dec["pixels"][o + 1] << 8) | dec["pixels"][o + 2]
            assert got == ref & 0xFFFFFF, (x, y)


# ---------------------------------------------------------------------------
# resize (functions/imaging.py — r4 VERDICT #3)


def test_resize_nearest_known_answer():
    from blockchaintoavro_spark.functions.imaging import resize_nearest

    # 4×2 → 2×1: floor mapping picks (0,0) and (2,0)
    px = bytes([10, 20, 30, 40, 50, 60, 70, 80])
    assert resize_nearest(px, 4, 2, 2, 1, 1) == bytes([10, 30])
    # upscale 2×1 → 4×2 replicates
    assert resize_nearest(bytes([5, 9]), 2, 1, 4, 2, 1) == bytes(
        [5, 5, 9, 9, 5, 5, 9, 9]
    )
    # 3-channel: whole pixels move together
    px3 = bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12])
    assert resize_nearest(px3, 4, 1, 2, 1, 3) == bytes([1, 2, 3, 7, 8, 9])


def test_resize_box_known_answer():
    from blockchaintoavro_spark.functions.imaging import resize_box

    # 4×4 ramp → 2×2: floor-mean of each 2×2 box
    px = bytes(range(16))
    out = resize_box(px, 4, 4, 2, 2, 1)
    assert out == bytes(
        [(0 + 1 + 4 + 5) // 4, (2 + 3 + 6 + 7) // 4,
         (8 + 9 + 12 + 13) // 4, (10 + 11 + 14 + 15) // 4]
    )
    # degenerate upscale: box falls back to at-least-1-pixel sampling
    assert resize_box(bytes([3, 200]), 2, 1, 4, 1, 1) == bytes([3, 3, 200, 200])


def test_sample_frames_real_gif(spark):
    """An animated GIF payload gets REAL frame sampling: every 2nd
    composited frame, re-encoded as a decodable PNG; byte payloads keep
    the window fallback."""
    from blockchaintoavro_spark.functions.gif import encode_gif
    from blockchaintoavro_spark.functions.imaging import try_decode_image
    from blockchaintoavro_spark.operators.multimodal import sample_frames

    w, h = 6, 4
    frames = [bytes((i + 40 * k) % 256 for i in range(w * h)) for k in range(5)]
    df = spark.createDataFrame(
        [(1, encode_gif(w, h, frames)), (2, bytes(range(64)))],
        "doc_id long, payload binary",
    )
    rows = sample_frames(df, frame_bytes=16, every_n=2).collect()
    got = {(r.doc_id, r.frame_no): bytes(r.frame) for r in rows}
    assert set(got) == {(1, 0), (1, 2), (1, 4), (2, 0), (2, 2)}
    for k in (0, 2, 4):
        dec = try_decode_image(got[(1, k)])
        assert dec["format"] == "png" and (dec["width"], dec["height"]) == (w, h)
        assert dec["pixels"][0::3] == frames[k]  # gray palette identity
    assert got[(2, 0)] == bytes(range(16))


def test_try_decode_image_dispatch_jpeg_gif():
    from blockchaintoavro_spark.functions.gif import encode_gif
    from blockchaintoavro_spark.functions.imaging import try_decode_image
    from blockchaintoavro_spark.functions.jpeg import encode_jpeg

    j = try_decode_image(encode_jpeg(8, 8, bytes([77] * 64), 1))
    assert j is not None and j["format"] == "jpeg"
    g = try_decode_image(encode_gif(3, 2, [bytes([1, 2, 3, 4, 5, 6])]))
    assert g is not None and g["format"] == "gif" and g["n_frames"] == 1
    assert try_decode_image(b"\xff\xd8corrupt") is None


def test_decoders_total_on_fuzzed_payloads():
    """Totality + bomb-resistance regression (fuzz findings): corrupt
    magic-matched payloads must yield None/ValueError quickly — never an
    unexpected exception type (zlib.error, IndexError escaped before)
    and never a pixel-bomb allocation from corrupt dimension bytes (a
    flipped GIF header byte used to trigger a multi-GB canvas fill)."""
    import random
    import time

    from blockchaintoavro_spark.functions.audio import encode_wav, try_decode_audio
    from blockchaintoavro_spark.functions.gif import encode_gif
    from blockchaintoavro_spark.functions.imaging import (
        encode_bmp,
        encode_png,
        try_decode_image,
    )
    from blockchaintoavro_spark.functions.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from blockchaintoavro_spark.functions.video import encode_avi, try_decode_video

    rng = random.Random(7)
    base = [
        encode_png(6, 4, bytes(range(24)), 1),
        encode_bmp(5, 3, bytes(45)),
        encode_jpeg(8, 8, bytes(64), 1, quant=1),
        encode_jpeg_progressive(16, 8, bytes(range(128)), 1, quant=1),
        # 16-bit gray PNG seed (hand-rolled: filter-0 rows of >H samples)
        PNG_MAGIC
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 16, 0, 0, 0, 0))
        + _chunk(
            b"IDAT",
            zlib.compress(
                b"".join(
                    b"\x00" + struct.pack(">4H", *(r * 4 + c for c in range(4)))
                    for r in range(2)
                )
            ),
        )
        + _chunk(b"IEND", b""),
        encode_gif(5, 4, [bytes(20), bytes(range(20))]),
        encode_avi(8, 8, [b"xx", b"yy"]),
        encode_avi(3, 2, [bytes(24)], fourcc=b"DIB "),
        encode_wav(8000, 2, [1, 2, 3, 4]),
        encode_wav(8000, 1, [1, -2, 3], bits=24),
    ]
    t0 = time.time()
    for b in base:
        for _ in range(1500):
            ba = bytearray(b)
            for _ in range(rng.randrange(1, 7)):
                if len(ba) < 12:
                    break
                op = rng.random()
                if op < 0.5:
                    ba[rng.randrange(len(ba))] = rng.randrange(256)
                elif op < 0.8:
                    del ba[rng.randrange(10, len(ba)):]
                else:
                    i = rng.randrange(len(ba))
                    ba[i : i + 1] = bytes(
                        rng.randrange(256) for _ in range(rng.randrange(8))
                    )
            payload = bytes(ba)
            for fn in (try_decode_image, try_decode_video, try_decode_audio):
                try:
                    fn(payload)
                except ValueError:
                    pass  # audio/video corruption is documented-loud
    # the pre-guard GIF bomb made this loop take minutes; bound it hard
    assert time.time() - t0 < 60


def test_decoder_rejects_bomb_dimensions():
    """A syntactically valid header declaring implausible dimensions is
    refused before any allocation (MAX_DECODE_PIXELS)."""
    import struct

    import pytest

    from blockchaintoavro_spark.functions.gif import decode_gif_frames, encode_gif
    from blockchaintoavro_spark.functions.imaging import MAX_DECODE_PIXELS

    g = bytearray(encode_gif(5, 4, [bytes(20)]))
    g[6:10] = struct.pack("<HH", 65535, 65535)  # 4.3e9-pixel canvas
    with pytest.raises(ValueError, match="implausible"):
        decode_gif_frames(bytes(g))
    assert 65535 * 65535 > MAX_DECODE_PIXELS


def test_jpeg_progressive_restart_markers_roundtrip():
    """Restart markers in EVERY progressive scan type (DC first/refine,
    AC first/refine): DRI + per-scan RSTn emission must decode
    identically to the unrestarted stream — exercises sync_restart,
    predictor reset and EOB-run reset across all four scan kinds."""
    import random

    from blockchaintoavro_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = random.Random(29)
    for w, h, ch in [(17, 9, 1), (16, 16, 3), (40, 33, 1)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * ch))
        base = decode_jpeg(encode_jpeg(w, h, px, ch))
        for ri in (1, 3):
            data = encode_jpeg_progressive(w, h, px, ch, restart_interval=ri)
            assert b"\xff\xdd" in data  # DRI present
            assert b"\xff\xd0" in data  # at least one RST0
            assert decode_jpeg(data)["pixels"] == base["pixels"]


def _adam7_passes(w, h):
    for xs, ys, xstep, ystep in [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]:
        pw = (w - xs + xstep - 1) // xstep
        ph = (h - ys + ystep - 1) // ystep
        if pw > 0 and ph > 0:
            yield xs, ys, xstep, ystep, pw, ph


def test_png_palette_decode_known_answer():
    """Color type 3: indices expand through PLTE; with tRNS the output
    grows an alpha channel (missing entries default opaque)."""
    w, h = 4, 2
    indices = bytes([0, 1, 2, 1, 2, 0, 1, 0])
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + indices[r * w : (r + 1) * w] for r in range(h))
    data = (
        PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    )
    info = decode_png(data)
    assert (info["width"], info["height"], info["channels"]) == (w, h, 3)
    want = b"".join(plte[3 * i : 3 * i + 3] for i in indices)
    assert info["pixels"] == want

    # with tRNS: entry 0 transparent, entry 1 half, entry 2 defaults 255
    data_a = (
        PNG_MAGIC + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", plte)
        + _chunk(b"tRNS", bytes([0, 128]))
        + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")
    )
    info_a = decode_png(data_a)
    assert info_a["channels"] == 4
    alphas = [info_a["pixels"][4 * i + 3] for i in range(w * h)]
    assert alphas == [{0: 0, 1: 128, 2: 255}[i] for i in indices]


def test_png_adam7_decode_equals_sequential():
    """A hand-assembled Adam7 stream (filter-0 sub-images per the spec's
    pass layout) must decode to the same pixels as the sequential
    encoding of the same image — scatter math checked exactly, on dims
    that exercise partial passes (neither a multiple of 8)."""
    for w, h, ch in [(11, 7, 1), (9, 10, 3), (8, 8, 4), (3, 2, 1), (1, 1, 3)]:
        px = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
        ctype = {1: 0, 3: 2, 4: 6}[ch]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 1)  # interlace=1
        raw = bytearray()
        for xs, ys, xstep, ystep, pw, ph in _adam7_passes(w, h):
            for j in range(ph):
                raw += b"\x00"
                for i in range(pw):
                    src = ((ys + j * ystep) * w + (xs + i * xstep)) * ch
                    raw += px[src : src + ch]
        data = (
            PNG_MAGIC + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")
        )
        info = decode_png(data)
        assert (info["width"], info["height"], info["channels"]) == (w, h, ch)
        assert info["pixels"] == px, (w, h, ch)


def test_we_read_imageio_written_palette_and_interlaced_png(spark):
    """Cross-impl: the JVM codec's indexed-color PNGs (real PLTE
    writers choose their own palettes) and its Adam7 output must decode
    to ImageIO's own pixel values."""
    import os
    import tempfile

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    d = tempfile.mkdtemp(prefix="png_jvm_")

    # indexed-color (palette) PNG
    w, h = 9, 6
    img = BI(w, h, BI.TYPE_BYTE_INDEXED)
    for y in range(h):
        for x in range(w):
            r, g, b = (x * 30) % 256, (y * 45) % 256, ((x + y) * 20) % 256
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
    pp = os.path.join(d, "pal.png")
    jvm.javax.imageio.ImageIO.write(img, "png", jvm.java.io.File(pp))
    info = decode_png(open(pp, "rb").read())
    assert (info["width"], info["height"]) == (w, h)
    ch = info["channels"]
    assert ch in (3, 4)
    back = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(pp))
    for y in range(h):
        for x in range(w):
            argb = back.getRGB(x, y) & 0xFFFFFFFF
            o = (y * w + x) * ch
            got = (info["pixels"][o] << 16) | (info["pixels"][o + 1] << 8) | info["pixels"][o + 2]
            assert got == (argb & 0xFFFFFF), (x, y)

    # Adam7 interlaced PNG via the writer's progressive mode
    w2, h2 = 13, 11
    img2 = BI(w2, h2, BI.TYPE_3BYTE_BGR)
    for y in range(h2):
        for x in range(w2):
            img2.setRGB(x, y, ((x * 19) % 256 << 16) | ((y * 23) % 256 << 8) | ((x * y) % 256))
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    pi = os.path.join(d, "adam7.png")
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(jvm.java.io.File(pi))
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(img2, None, None), param)
    ios.close()
    writer.dispose()
    raw = open(pi, "rb").read()
    # IHDR interlace byte really is 1
    ihdr_off = raw.find(b"IHDR")
    assert raw[ihdr_off + 4 + 12] == 1
    info2 = decode_png(raw)
    assert (info2["width"], info2["height"], info2["channels"]) == (w2, h2, 3)
    for y in range(h2):
        for x in range(w2):
            argb = img2.getRGB(x, y) & 0xFFFFFF
            o = (y * w2 + x) * 3
            got = (info2["pixels"][o] << 16) | (info2["pixels"][o + 1] << 8) | info2["pixels"][o + 2]
            assert got == argb, (x, y)


def test_png_16bit_decode_high_byte():
    """16-bit PNG: samples unfilter at stored width (2-byte left
    neighbor) and reduce to 8-bit by the high byte. Hand-crafted gray
    image with a Sub-filtered row so the bpp=2 neighbor math is
    load-bearing."""
    w, h = 3, 2
    samples = [[0x1234, 0x5678, 0x9ABC], [0x1111, 0x2222, 0x3333]]
    row0 = b"\x00" + b"".join(struct.pack(">H", v) for v in samples[0])
    # row 1 Sub-filtered at 2-byte bpp: raw = cur - left (byte-wise)
    cur = b"".join(struct.pack(">H", v) for v in samples[1])
    filt = bytearray(cur)
    for i in range(len(cur) - 1, 1, -1):
        filt[i] = (cur[i] - cur[i - 2]) & 0xFF
    row1 = b"\x01" + bytes(filt)
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    data = (
        PNG_MAGIC + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(row0 + row1)) + _chunk(b"IEND", b"")
    )
    info = decode_png(data)
    assert (info["width"], info["height"], info["channels"]) == (w, h, 1)
    assert list(info["pixels"]) == [0x12, 0x56, 0x9A, 0x11, 0x22, 0x33]


def test_we_read_imageio_written_16bit_png(spark):
    """Cross-impl: a 16-bit gray PNG written by the JVM codec decodes to
    the high bytes of ImageIO's own 16-bit raster."""
    import os
    import tempfile

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    w, h = 7, 5
    img = BI(w, h, BI.TYPE_USHORT_GRAY)
    vals = [((x * 9277 + y * 4099) * 57) % 65536 for y in range(h) for x in range(w)]
    for y in range(h):
        for x in range(w):
            img.getRaster().setSample(x, y, 0, vals[y * w + x])
    d = tempfile.mkdtemp(prefix="png16_")
    p = os.path.join(d, "g16.png")
    jvm.javax.imageio.ImageIO.write(img, "png", jvm.java.io.File(p))
    raw = open(p, "rb").read()
    ihdr_off = raw.find(b"IHDR")
    assert raw[ihdr_off + 12] == 16  # bit depth byte really is 16
    info = decode_png(raw)
    assert (info["width"], info["height"], info["channels"]) == (w, h, 1)
    assert list(info["pixels"]) == [v >> 8 for v in vals]


def test_bmp_palette_expansion(spark):
    """expand_palette=True resolves 8bpp indices through the BGRA color
    table to BGR pixels (cross-validated against an ImageIO-written
    indexed BMP); the default keeps the historical index contract."""
    import os
    import tempfile

    jvm = spark.sparkContext._jvm
    BI = jvm.java.awt.image.BufferedImage
    w, h = 7, 5
    img = BI(w, h, BI.TYPE_BYTE_INDEXED)
    for y in range(h):
        for x in range(w):
            r, g, b = (x * 37) % 256, (y * 53) % 256, ((x + y) * 29) % 256
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
    d = tempfile.mkdtemp(prefix="bmp8_")
    p = os.path.join(d, "i.bmp")
    jvm.javax.imageio.ImageIO.write(img, "bmp", jvm.java.io.File(p))
    raw = open(p, "rb").read()
    assert struct.unpack("<H", raw[28:30])[0] == 8  # really 8bpp

    idx = decode_bmp(raw)
    assert idx["channels"] == 1  # default: index contract unchanged
    exp = decode_bmp(raw, expand_palette=True)
    assert exp["channels"] == 3
    back = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(p))
    for y in range(h):
        for x in range(w):
            argb = back.getRGB(x, y) & 0xFFFFFF
            o = (y * w + x) * 3
            bgr = exp["pixels"][o : o + 3]  # BGR like the 24bpp path
            assert (bgr[2] << 16) | (bgr[1] << 8) | bgr[0] == argb, (x, y)


def test_jpeg_fill_bytes_before_markers_decode():
    """T.81 B.1.1.2 (r6 ADVICE regression): any number of 0xFF fill
    bytes may precede a marker. Insert fill runs before DQT and EOI in
    conformant baseline AND progressive streams — the decode must be
    identical to the unpadded stream, not 'expected marker'."""
    from blockchaintoavro_spark.functions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    w, h, px = _flat_block_image(5, 2, 2, 3)
    for enc in (encode_jpeg, encode_jpeg_progressive):
        data = enc(w, h, px, 3, quant=1)
        # locate the first DQT marker (FF DB) after SOI and the trailing
        # EOI (FF D9); pad both with fill bytes
        dqt = data.index(b"\xff\xdb")
        eoi = data.rindex(b"\xff\xd9")
        padded = (
            data[:dqt]
            + b"\xff" * 3
            + data[dqt:eoi]
            + b"\xff" * 2
            + data[eoi:]
        )
        ref = decode_jpeg(data)
        dec = decode_jpeg(padded)
        assert dec == ref


def test_idct_batch_bit_identical_to_scalar():
    """The vectorized batch IDCT must be BIT-identical to the scalar
    reference on arbitrary sparse/dense/DC-only/zero blocks — the
    accumulation order is pinned to the scalar loop's (r6 VERDICT #7:
    decode outputs stay byte-equal)."""
    import random

    from blockchaintoavro_spark.functions.jpeg import (
        _idct_block,
        _idct_blocks_batch,
    )

    rng = random.Random(42)
    blocks = []
    for _ in range(300):
        c = [0.0] * 64
        for _ in range(rng.randrange(0, 40)):
            c[rng.randrange(64)] = float(rng.randrange(-2048, 2048))
        blocks.append(c)
    blocks.append([0.0] * 64)
    blocks.append([808.0] + [0.0] * 63)  # DC-only shortcut path
    blocks.append([-3000.0] + [0.0] * 63)  # clamped DC
    batch = _idct_blocks_batch(blocks)
    assert len(batch) == len(blocks)
    for b, bb in zip(blocks, batch):
        assert bytes(_idct_block(b)) == bb
    assert _idct_blocks_batch([]) == []


def test_bitreader_wide_receive_terminates():
    """Fuzz-found regression: corrupt Huffman tables can declare
    magnitude symbols up to 255, and receive() must terminate (chunked
    reads) for ANY width — the bulk fast path once spun forever when
    the request exceeded the fill buffer's ~32-bit capacity."""
    from blockchaintoavro_spark.functions.jpeg import _BitReader

    r = _BitReader(b"\x12\x34", 0)
    v = r.receive(255)  # pads 1-bits past the end per T.81
    assert v == (0x1234 << 239) | ((1 << 239) - 1)
    # and the reader stays usable
    assert r.receive(8) == 0xFF


# ---------------------------------------------------------------------------
# r16: vectorized resize kernels must stay bit-identical to the scalar
# floor-arithmetic reference (the integral-image rewrite changed the
# internals, not the contract — these pin it)


def _resize_box_ref(pixels, src_w, src_h, dst_w, dst_h, channels=1):
    """Scalar reference: the pre-r16 per-pixel floor-mean loop, verbatim."""
    out = bytearray(dst_w * dst_h * channels)
    for y in range(dst_h):
        y0 = y * src_h // dst_h
        y1 = max((y + 1) * src_h // dst_h, y0 + 1)
        for x in range(dst_w):
            x0 = x * src_w // dst_w
            x1 = max((x + 1) * src_w // dst_w, x0 + 1)
            cnt = (y1 - y0) * (x1 - x0)
            d = (y * dst_w + x) * channels
            for c in range(channels):
                acc = 0
                for sy in range(y0, y1):
                    base = (sy * src_w) * channels + c
                    for sx in range(x0, x1):
                        acc += pixels[base + sx * channels]
                out[d + c] = acc // cnt
    return bytes(out)


def _resize_nearest_ref(pixels, src_w, src_h, dst_w, dst_h, channels=1):
    out = bytearray(dst_w * dst_h * channels)
    for y in range(dst_h):
        sy = y * src_h // dst_h
        src_row = sy * src_w * channels
        dst_row = y * dst_w * channels
        for x in range(dst_w):
            sx = x * src_w // dst_w
            s = src_row + sx * channels
            d = dst_row + x * channels
            out[d : d + channels] = pixels[s : s + channels]
    return bytes(out)


@given(
    st.integers(1, 24), st.integers(1, 24),  # src dims
    st.integers(1, 24), st.integers(1, 24),  # dst dims
    st.sampled_from([1, 3, 4]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=120, deadline=None)
def test_resize_vectorized_bit_match(sw, sh, dw, dh, ch, rnd):
    from blockchaintoavro_spark.functions.imaging import (
        resize_box,
        resize_nearest,
    )

    px = bytes(rnd.randrange(256) for _ in range(sw * sh * ch))
    assert resize_box(px, sw, sh, dw, dh, ch) == _resize_box_ref(
        px, sw, sh, dw, dh, ch
    )
    assert resize_nearest(px, sw, sh, dw, dh, ch) == _resize_nearest_ref(
        px, sw, sh, dw, dh, ch
    )
