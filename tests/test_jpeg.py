"""Baseline JPEG decoder: interop-pinned against Java ImageIO (the same
second-implementation strategy as the TIFF LZW/PackBits codecs).

Tolerance contract (stated in cog3pio_spark/jpeg.py): reference decoders use
fixed-point IDCTs and triangle chroma upsampling with specific integer
rounding; this decoder uses exact float math, so per-pixel agreement is
±2 on gray / smooth color and only degrades at extreme chroma wrap edges
(p99 still ≤ 3). Identical DCT coefficients are decoded — only rounding and
filter phase differ."""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from cog3pio_spark.jpeg import JpegDecodeError, decode_jpeg

DATA = os.path.join(os.path.dirname(__file__), "data")


def _imageio_decode(spark, data: bytes) -> np.ndarray:
    jvm = spark._jvm
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(data))
    h, w = img.getHeight(), img.getWidth()
    rast = img.getRaster()
    nb = rast.getNumBands()
    out = np.zeros((nb, h, w), dtype=np.int32)
    for b in range(nb):
        for y in range(h):
            out[b, y] = [rast.getSample(x, y, b) for x in range(w)]
    return out.astype(np.uint8)


def _imageio_encode_rgb(spark, arr: np.ndarray) -> bytes:
    jvm = spark._jvm
    _, h, w = arr.shape
    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            bi.setRGB(
                x, y,
                (int(arr[0, y, x]) << 16) | (int(arr[1, y, x]) << 8) | int(arr[2, y, x]),
            )
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.imageio.ImageIO.write(bi, "jpg", baos)
    return bytes(baos.toByteArray())


def test_gray_fixture_matches_imageio(spark):
    """Committed ImageIO-written gray JPEG (pixel formula (x*7+y*13)%251,
    70x40 — same as the TIFF interop fixtures): our decode agrees with
    ImageIO's own decode within ±2 everywhere."""
    raw = open(os.path.join(DATA, "java_gray.jpg"), "rb").read()
    ours = decode_jpeg(raw)
    ref = _imageio_decode(spark, raw)
    assert ours.shape == ref.shape == (1, 40, 70)
    d = np.abs(ours.astype(int) - ref.astype(int))
    assert d.max() <= 2, d.max()


def test_rgb420_fixture_matches_imageio(spark):
    """Committed 4:2:0 color JPEG (smooth gradients): ±3 max, mean < 1."""
    raw = open(os.path.join(DATA, "java_rgb420.jpg"), "rb").read()
    ours = decode_jpeg(raw)
    ref = _imageio_decode(spark, raw)
    assert ours.shape == ref.shape == (3, 28, 40)
    d = np.abs(ours.astype(int) - ref.astype(int))
    assert d.max() <= 3 and d.mean() < 1.0, (d.max(), d.mean())


def test_sharp_chroma_roundtrip_tolerance(spark):
    """Freshly encoded wrap-edge gradients (worst case for upsampling filter
    phase): p99 ≤ 3, bounded max — the documented tolerance contract."""
    yy, xx = np.mgrid[0:28, 0:40]
    arr = np.stack(
        [(yy * 4 + 30) % 256, (xx * 3 + 90) % 256, ((yy + xx) * 2 + 150) % 256]
    ).astype(np.uint8)
    data = _imageio_encode_rgb(spark, arr)
    d = np.abs(decode_jpeg(data).astype(int) - _imageio_decode(spark, data).astype(int))
    assert np.percentile(d, 99) <= 3 and d.max() <= 16, (d.max(), np.percentile(d, 99))


def test_jpeg_error_taxonomy():
    """Honest failures: not-a-JPEG, arithmetic-coded (SOF9), truncated
    entropy, and a baseline stream mislabeled SOF2 (its Ss=0/Se=63 scan is
    an illegal progressive DC band — r4: progressive itself now decodes)."""
    with pytest.raises(JpegDecodeError, match="missing SOI"):
        decode_jpeg(b"\x89PNG\r\n" + b"x" * 32)
    raw = bytearray(open(os.path.join(DATA, "java_gray.jpg"), "rb").read())
    i = raw.find(b"\xff\xc0")
    raw[i + 1] = 0xC9  # flip SOF0 -> SOF9 (arithmetic-coded sequential)
    with pytest.raises(JpegDecodeError, match="arithmetic-coded JPEG is unsupported"):
        decode_jpeg(bytes(raw))
    raw[i + 1] = 0xC2  # mislabel as progressive: scan band is invalid for SOF2
    with pytest.raises(JpegDecodeError, match="DC scan must have Se=0"):
        decode_jpeg(bytes(raw))
    good = open(os.path.join(DATA, "java_gray.jpg"), "rb").read()
    with pytest.raises(JpegDecodeError, match="truncated"):
        decode_jpeg(good[: len(good) // 2])


def test_progressive_gray_fixture_matches_imageio(spark):
    """Committed ImageIO-written PROGRESSIVE gray JPEG (r4; same 70x40 pixel
    formula as the baseline fixture; scan script = single-component DC
    first, two spectral-selection AC first scans, AC refinement, DC
    refinement — Ah/Al 0..2): our decode agrees with ImageIO's within the
    baseline gray tolerance (±2)."""
    raw = open(os.path.join(DATA, "java_gray_prog.jpg"), "rb").read()
    assert b"\xff\xc2" in raw  # really SOF2
    ours = decode_jpeg(raw)
    ref = _imageio_decode(spark, raw)
    assert ours.shape == ref.shape == (1, 40, 70)
    d = np.abs(ours.astype(int) - ref.astype(int))
    assert d.max() <= 2, d.max()


def test_progressive_rgb_fixture_matches_imageio(spark):
    """Committed progressive color JPEG (r4; wrap-edge gradients, scan
    script = INTERLEAVED 3-component DC first + per-component AC
    first/refinement + interleaved DC refinement): same tolerance contract
    as the sharp-chroma baseline test (p99 <= 3, bounded max)."""
    raw = open(os.path.join(DATA, "java_rgb_prog.jpg"), "rb").read()
    assert b"\xff\xc2" in raw
    ours = decode_jpeg(raw)
    ref = _imageio_decode(spark, raw)
    assert ours.shape == ref.shape == (3, 28, 40)
    d = np.abs(ours.astype(int) - ref.astype(int))
    assert np.percentile(d, 99) <= 3 and d.max() <= 16, (d.max(), np.percentile(d, 99))


def test_progressive_fresh_encode_roundtrip(spark):
    """Freshly ImageIO-encoded progressive stream (not the committed bytes):
    decode tolerance holds for whatever scan script this JVM emits."""
    yy, xx = np.mgrid[0:33, 0:41]  # odd dims: exercises partial-MCU edges
    arr = np.stack(
        [(yy * 5 + 11) % 256, (xx * 9 + 70) % 256, ((yy * 2 + xx) * 3) % 256]
    ).astype(np.uint8)
    jvm = spark._jvm
    _, h, w = arr.shape
    bi = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            bi.setRGB(
                x, y,
                (int(arr[0, y, x]) << 16) | (int(arr[1, y, x]) << 8) | int(arr[2, y, x]),
            )
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
    ios.close()
    data = bytes(baos.toByteArray())
    assert b"\xff\xc2" in data
    d = np.abs(decode_jpeg(data).astype(int) - _imageio_decode(spark, data).astype(int))
    assert np.percentile(d, 99) <= 3 and d.max() <= 16, (d.max(), np.percentile(d, 99))


def test_jpeg_through_spark_operators(spark):
    """The decoder powers the Spark operators: extract_features computes
    PIXEL statistics for JPEG blobs (tagged ;decoded) and resize_media
    really resizes a JPEG (output re-encoded as TIFF — the documented
    format conversion), with pixels matching the direct-decode resample."""
    from cog3pio_spark.operators.multimodal import extract_features, resize_media
    from cog3pio_spark.tiff.reader import CogReader

    raw = open(os.path.join(DATA, "java_gray.jpg"), "rb").read()
    df = spark.createDataFrame([("j1", raw)], ["media_id", "blob"])

    feat = extract_features(df).collect()[0]
    assert feat["media_type"] == "image/jpeg;decoded"
    px = decode_jpeg(raw).astype(np.float64)
    assert abs(feat["features"][14] - px.mean()) < 1e-9  # pixel mean, not bytes

    res = resize_media(df, 35, 20).collect()[0]
    assert res["status"] == "ok" and (res["width"], res["height"]) == (35, 20)
    back = CogReader(bytes(res["resized"])).to_numpy()
    arr = decode_jpeg(raw)
    yi = ((np.arange(20) + 0.5) * 40 / 20).astype(int)
    xi = ((np.arange(35) + 0.5) * 70 / 35).astype(int)
    np.testing.assert_array_equal(back, arr[:, yi][:, :, xi])


def test_jpeg_truncated_in_padding_and_marker_bounds():
    """r3 review guards: streams ending inside 0xFF fill bytes raise the
    honest taxonomy error, never IndexError."""
    with pytest.raises(JpegDecodeError, match="truncated in marker padding"):
        decode_jpeg(b"\xff\xd8\xff\xff")


def test_progressive_restart_interval_segments():
    """Direct unit test of the progressive restart branch (no encoder in
    the Java writer emits DRI in progressive mode, so this path gets a
    hand-built scan): a 2-block DC-first scan with restart_interval=1 must
    pull a fresh entropy segment at the block boundary and reset the DC
    predictor; a missing restart segment raises the truncation error."""
    import numpy as np

    from cog3pio_spark.jpeg import (
        _build_huffman,
        _decode_scan,
    )

    # Huffman table: symbol 2 with the single 1-bit code '0' (t=2 bits of
    # diff follow each code)
    tbl = _build_huffman([1] + [0] * 15, bytes([2]))
    frame = {"h": 8, "w": 16, "comps": [
        {"id": 1, "h": 1, "v": 1, "tq": 0}], "progressive": True}
    by_id = {1: frame["comps"][0]}
    coefs = {1: np.zeros((1, 2, 64), dtype=np.int32)}
    # each segment: code '0' (1 bit) + diff bits '11' (= 3) → byte 0b01100000
    scan = {
        "comps": [{"id": 1, "dc": 0, "ac": 0}],
        "segments": [bytes([0b01100000]), bytes([0b01100000])],
        "ss": 0, "se": 0, "ah": 0, "al": 0,
        "htables": {(0, 0): tbl}, "ri": 1,
    }
    _decode_scan(scan, frame, by_id, coefs, 2, 1, 1, 1)
    # predictor RESET at the restart: both blocks hold DC=3, not 3 then 6
    assert coefs[1][0, 0, 0] == 3 and coefs[1][0, 1, 0] == 3

    # without the second segment the restart must fail loudly
    from cog3pio_spark.jpeg import JpegDecodeError
    import pytest as _pytest

    coefs2 = {1: np.zeros((1, 2, 64), dtype=np.int32)}
    scan2 = dict(scan, segments=[bytes([0b01100000])])
    with _pytest.raises(JpegDecodeError, match="missing restart segment"):
        _decode_scan(scan2, frame, by_id, coefs2, 2, 1, 1, 1)

    # same scan WITHOUT restarts accumulates the predictor (3 then 6)
    coefs3 = {1: np.zeros((1, 2, 64), dtype=np.int32)}
    scan3 = dict(scan, ri=0, segments=[bytes([0b01101100])])  # two units
    _decode_scan(scan3, frame, by_id, coefs3, 2, 1, 1, 1)
    assert coefs3[1][0, 0, 0] == 3 and coefs3[1][0, 1, 0] == 6


def _inject_after_soi(raw: bytes, segment: bytes) -> bytes:
    assert raw[:2] == b"\xff\xd8"
    return raw[:2] + segment + raw[2:]


def test_adobe_transform_zero_skips_color_matrix():
    """r5 review: 3-component frames were unconditionally YCbCr-converted —
    an Adobe APP14 transform=0 stream stores its planes directly and came
    out silently garbled. With APP14 t=0 injected, the decoder must emit
    the raw planes: applying the (separately interop-pinned) YCbCr matrix
    to them reproduces the normal decode, and the direct output itself
    differs from it. (Java ImageIO refuses Adobe-t0 + 420 subsampling
    outright — 'Unsupported Image Type' — so this is a self-consistency
    pin, not an interop one.)"""
    raw = open(os.path.join(DATA, "java_rgb420.jpg"), "rb").read()
    app14 = b"\xff\xee" + (14).to_bytes(2, "big") + b"Adobe" + bytes(6) + bytes([0])
    tagged = _inject_after_soi(raw, app14)
    direct = decode_jpeg(tagged).astype(np.float64)
    normal = decode_jpeg(raw).astype(np.int32)
    assert direct.shape == normal.shape
    y, cb, cr = direct[0], direct[1] - 128.0, direct[2] - 128.0
    recomposed = np.clip(
        np.round(
            np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ]
            )
        ),
        0,
        255,
    ).astype(np.int32)
    # plane rounding happens before the matrix here (after, in the normal
    # path) — bounded by the matrix row sums, well under 3
    assert np.abs(recomposed - normal).max() <= 3
    assert np.abs(direct.astype(np.int32) - normal).max() > 8


def test_corrupt_dims_refused_before_allocation():
    """r5 review: a tiny blob whose SOF claims 65535x65535 used to reach
    multi-GB plane allocations (MemoryError escaping the taxonomy). The
    blocks-vs-entropy-bytes guard must refuse it as JpegDecodeError."""
    raw = bytearray(open(os.path.join(DATA, "java_gray.jpg"), "rb").read())
    sof = bytes(raw).find(b"\xff\xc0")
    assert sof > 0
    raw[sof + 5 : sof + 9] = (65535).to_bytes(2, "big") * 2  # h, w
    with pytest.raises(JpegDecodeError, match="corrupt\\s+dimensions"):
        decode_jpeg(bytes(raw))
    prog = bytearray(open(os.path.join(DATA, "java_gray_prog.jpg"), "rb").read())
    sof2 = bytes(prog).find(b"\xff\xc2")
    assert sof2 > 0
    prog[sof2 + 5 : sof2 + 9] = (65535).to_bytes(2, "big") * 2
    with pytest.raises(JpegDecodeError, match="corrupt\\s+dimensions"):
        decode_jpeg(bytes(prog))


def test_progressive_qtable_latched_at_first_scan():
    """r5 review: dequantization used the FINAL qtables — a mid-frame DQT
    redefinition (spec-legal) retroactively corrupted every earlier scan.
    Tables now latch per component at its first scan (libjpeg behavior), so
    a garbage DQT injected before the last scan must change NOTHING."""
    raw = open(os.path.join(DATA, "java_gray_prog.jpg"), "rb").read()
    last_sos = raw.rfind(b"\xff\xda")
    assert last_sos > raw.find(b"\xff\xda")  # really multi-scan
    garbage_dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([0]) + b"\xff" * 64
    patched = raw[:last_sos] + garbage_dqt + raw[last_sos:]
    np.testing.assert_array_equal(decode_jpeg(patched), decode_jpeg(raw))


# sha256 of decode_jpeg(fixture).tobytes(): the ImageIO tests allow ±2/±3,
# so these pins are what catches a one-LSB drift of the shared IDCT
FIXTURE_SHA256 = {
    "java_gray.jpg": "33c713c54363c89d58b2c23b1a885408b937deeb579e144915e0131c19029377",
    "java_rgb420.jpg": "9c4d61913e69ec4c7737982e0c366ad9b9872583ee8acb2a67b5e7e99e60f2bf",
    "java_gray_prog.jpg": "33c713c54363c89d58b2c23b1a885408b937deeb579e144915e0131c19029377",
    "java_rgb_prog.jpg": "6908b599a669bc22d54e903ba5bcb4c1356bc8444926b63462c68f8517a69845",
}


@pytest.mark.parametrize("name", sorted(FIXTURE_SHA256))
def test_fixture_decode_is_pinned(name):
    raw = open(os.path.join(DATA, name), "rb").read()
    out = decode_jpeg(raw)
    assert hashlib.sha256(out.tobytes()).hexdigest() == FIXTURE_SHA256[name]


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _one_code_dht(tc: int, symbol: int) -> bytes:
    """Huffman table 0 of class ``tc`` with the single 1-bit code '0'."""
    return _seg(0xC4, bytes([tc << 4, 1] + [0] * 15 + [symbol]))


def _gray_baseline(w: int, h: int, sampling: int, dc_size: int, dri: int,
                   entropy: bytes) -> bytes:
    """Hand-built one-component SOF0 stream: DQT all 16; a DC table whose
    one code '0' means a diff of ``dc_size`` bits; an AC table whose one
    code '0' is EOB; an optional DRI; then ``entropy`` as the scan data."""
    return (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0]) + bytes([16]) * 64)
        + _seg(0xC0, bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
               + bytes([1, 1, sampling, 0]))
        + _one_code_dht(0, dc_size)
        + _one_code_dht(1, 0x00)
        + (_seg(0xDD, dri.to_bytes(2, "big")) if dri else b"")
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + entropy
        + b"\xff\xd9"
    )


def _block_values(out: np.ndarray) -> list[int]:
    """Per-8x8-block value of a flat (DC-only) decode, in raster order."""
    blocks = out[0].reshape(out.shape[1] // 8, 8, out.shape[2] // 8, 8)
    assert (blocks == blocks[:, :1, :, :1]).all()  # DC-only: flat blocks
    return [int(v) for v in blocks[:, 0, :, 0].ravel()]


def test_sequential_restart_interval_segments():
    """The sequential restart branch: gray 16x8, two blocks each coded
    '0' '11' '0' (DC diff 3 → 3·16/8 = +6, then EOB), padded with 1 bits
    to 0x6F. With DRI=1 the blocks sit in two RST-separated segments and
    the DC predictor resets (134, 134); the same bits in one segment
    without DRI accumulate it (134, 140); a missing segment is refused."""
    seq = _gray_baseline(16, 8, 0x11, 2, 1, b"\x6f\xff\xd0\x6f")
    assert _block_values(decode_jpeg(seq)) == [134, 134]
    acc = _gray_baseline(16, 8, 0x11, 2, 0, b"\x66")
    assert _block_values(decode_jpeg(acc)) == [134, 140]
    with pytest.raises(JpegDecodeError, match="missing restart segment"):
        decode_jpeg(_gray_baseline(16, 8, 0x11, 2, 1, b"\x6f"))


def test_one_component_frame_ignores_declared_sampling():
    """A one-component scan codes its blocks in the component's own raster
    order whatever sampling the frame declares (T.81 §A.2.2; jpegtran
    -grayscale writes 2x2). Gray 32x8 at 2x2: four blocks '0' '1' '0'
    (DC diff +1 each, EOB) = 0x49 0x2F decode to 130, 132, 134, 136."""
    raw = _gray_baseline(32, 8, 0x22, 1, 0, b"\x49\x2f")
    assert _block_values(decode_jpeg(raw)) == [130, 132, 134, 136]
