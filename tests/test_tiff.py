"""TIFF layer goldens — re-expressing every reference assertion (SURVEY §5.1).

Citations are to /root/reference (weiji14/cog3pio @ 2026-05-15).
"""

from __future__ import annotations

import numpy as np
import pytest

from cog3pio_spark.fixtures.cogs import DTYPE_MATRIX, ensure_fixtures
from cog3pio_spark.tiff import CogReader, TiffDecodeError, read_geotiff
from cog3pio_spark.tiff.writer import write_tiff


@pytest.fixture(scope="module")
def fx():
    rows = ensure_fixtures()
    return {r["media_ref"].rsplit("/", 1)[-1]: r for r in rows}


def _read(row):
    return CogReader(open(row["media_ref"][7:], "rb").read())


def test_gradient_golden(fx):
    """20×10 y+x gradient, mean 14.0 — src/io/geotiff.rs:254-281."""
    arr = _read(fx["grad_f32_20x10.tif"]).to_numpy()
    assert arr.shape == (1, 10, 20)
    assert arr.dtype == np.float32
    assert float(arr.mean()) == 14.0


def test_exact_pixels_golden(fx):
    """1×2×3 exact float32 equality — src/io/geotiff.rs:342-366."""
    arr = _read(fx["exact_f32_1x2x3.tif"]).to_numpy()
    np.testing.assert_equal(
        arr, np.array([[[1.41, 1.23, 0.78], [0.32, -0.23, -1.88]]], dtype=np.float32)
    )


@pytest.mark.parametrize("dt", DTYPE_MATRIX)
def test_dtype_matrix(fx, dt):
    """dtype dispatch parity — src/io/geotiff.rs:50-60."""
    row = fx[f"dtype_{dt}_20x20.tif"]
    arr = _read(row).to_numpy()
    assert str(arr.dtype) == dt
    assert arr.shape == (1, 20, 20)
    assert abs(float(np.asarray(arr, np.float64).mean()) - row["expected_mean"]) < 1e-9


def test_multiband_shape_mean_checksum(fx):
    """Multi-band: shape + order-insensitive mean + decoded-layout sha
    (reference asserts only mean; layout pinned per SURVEY §1.2)."""
    import hashlib

    row = fx["multiband_f32_2x64x64.tif"]
    arr = _read(row).to_numpy()
    assert arr.shape == (2, 64, 64)
    assert abs(float(arr.astype(np.float64).mean()) - row["expected_mean"]) < 1e-12
    assert hashlib.sha256(np.ascontiguousarray(arr).tobytes()).hexdigest() == row["pixel_sha256"]


def test_rgb_bands(fx):
    """ColorType RGB → bands=3 — src/io/geotiff.rs:67-83."""
    arr = _read(fx["rgb_u8_3band.tif"]).to_numpy()
    assert arr.shape == (3, 32, 32)
    assert arr.dtype == np.uint8


def test_affine_golden(fx):
    """Exact affine (200,0,499980,0,-200,5300040) — src/io/geotiff.rs:396-399."""
    r = _read(fx["geo_549x549.tif"])
    assert r.transform().as_tuple() == (200.0, 0.0, 499_980.0, 0.0, -200.0, 5_300_040.0)


def test_xy_coords_golden(fx):
    """Pixel-center half-open axes — python/tests/test_io_geotiff.py:141-169."""
    x, y = _read(fx["dem_63x244.tif"]).xy_coords()
    np.testing.assert_allclose(
        x, np.linspace(1679617.031, 1679680.031, 63, endpoint=False), rtol=0, atol=1e-6
    )
    np.testing.assert_allclose(
        y, np.linspace(5362323.781, 5362079.781, 244, endpoint=False), rtol=0, atol=1e-6
    )


def test_unsupported_colortype_error(fx):
    """Palette error message parity — python/tests/test_io_geotiff.py:90-103."""
    with pytest.raises(
        TiffDecodeError,
        match=r"Photometric interpretation RGBPalette with bits per sample \[8\] is unsupported",
    ):
        _read(fx["err_palette.tif"])


def test_truncated_error(fx):
    with pytest.raises(TiffDecodeError, match="truncated or corrupt"):
        _read(fx["err_truncated.tif"])


def test_path_errors(tmp_path):
    """Path/url error taxonomy — src/python/adapters.rs:147-162."""
    with pytest.raises(TiffDecodeError, match=r"Cannot parse url: protocol://file.ext"):
        read_geotiff("protocol://file.ext")
    with pytest.raises(FileNotFoundError, match="Cannot find file: /nope/missing.tif"):
        read_geotiff("/nope/missing.tif")
    with pytest.raises(TiffDecodeError, match="Cannot parse path:"):
        read_geotiff("\\invalid\\path")


def test_dtype_mismatch(fx):
    """Typed read asserts dtype — src/io/geotiff.rs:220-224."""
    with pytest.raises(TiffDecodeError, match="Data type mismatch"):
        read_geotiff(fx["dtype_uint16_20x20.tif"]["media_ref"], dtype="float32")


def test_reshape_error_message(tmp_path):
    """Size-mismatch message parity — src/io/geotiff.rs:336-339."""
    p = str(tmp_path / "bad.tif")
    write_tiff(p, np.zeros((1, 4, 4), np.uint8))
    raw = bytearray(open(p, "rb").read())
    reader = CogReader(bytes(raw))
    reader.width = 5  # force size mismatch
    with pytest.raises(TiffDecodeError, match=r"failed to convert vector of size 16 to shape \[1, 4, 5\]"):
        reader.to_numpy()


def test_rotation_unsupported(tmp_path):
    """ModelTransformation present → unsupported — src/io/geotiff.rs:118-123."""
    p = str(tmp_path / "rot.tif")
    write_tiff(
        p, np.zeros((1, 4, 4), np.float32), model_transformation=[1.0] * 16
    )
    with pytest.raises(TiffDecodeError, match="rotations or shears"):
        CogReader(open(p, "rb").read()).transform()


def test_deflate_and_tiled_roundtrip(tmp_path):
    rng = np.random.RandomState(0)
    arr = (rng.rand(2, 37, 23) * 100).astype(np.float32)
    for tiled in (False, True):
        for comp in ("none", "deflate"):
            p = str(tmp_path / f"rt_{tiled}_{comp}.tif")
            write_tiff(p, arr, tiled=tiled, compression=comp)
            got = CogReader(open(p, "rb").read()).to_numpy()
            assert got.shape == (2, 37, 23)
            # engine de-interleaves chunky data to true band-major
            np.testing.assert_array_equal(got, arr)


def test_lzw_packbits_predictor_roundtrip(tmp_path):
    """LZW / PackBits / horizontal-differencing predictor round-trips across
    the dtype matrix — the tiff-crate compressions the reference decodes
    beyond deflate (/root/reference/Cargo.toml:49)."""
    rng = np.random.RandomState(3)
    for comp in ("lzw", "packbits"):
        for dt in ("uint8", "uint16", "int32", "float32", "uint64"):
            arr = (rng.rand(2, 33, 47) * 100).astype(dt)
            for tiled in (False, True):
                p = str(tmp_path / f"rt_{comp}_{dt}_{tiled}.tif")
                write_tiff(p, arr, tiled=tiled, compression=comp)
                got = CogReader(open(p, "rb").read()).to_numpy()
                assert got.dtype == arr.dtype
                np.testing.assert_array_equal(got, arr)
    # predictor 2 (integer dtypes only) — incl. 64-bit widths, where the
    # modular math must run in uint64 (an int64 work array overflows)
    for comp in ("lzw", "deflate", "packbits"):
        for dt in ("uint16", "uint64", "int64", "int8"):
            arr = np.cumsum(rng.randint(0, 3, (1, 40, 50)), axis=2).astype(dt)
            if dt == "uint64":
                arr += np.uint64(1 << 63)  # exercise the high bit
            p = str(tmp_path / f"p2_{comp}_{dt}.tif")
            write_tiff(p, arr, compression=comp, predictor=2)
            got = CogReader(open(p, "rb").read()).to_numpy()
            np.testing.assert_array_equal(got, arr)
    # predictor 2 + float rejected (TIFF 6.0: predictor 2 is integer-only)
    with pytest.raises(ValueError, match="integer"):
        write_tiff(str(tmp_path / "bad.tif"), rng.rand(1, 4, 4).astype("float32"),
                   compression="lzw", predictor=2)


def test_lzw_windowed_tile_decode(tmp_path):
    """Window decode must decompress only intersecting LZW tiles and undo
    the predictor per tile."""
    rng = np.random.RandomState(5)
    arr = (rng.rand(1, 64, 64) * 255).astype("uint8")
    p = str(tmp_path / "win_lzw.tif")
    write_tiff(p, arr, tiled=True, tile_size=16, compression="lzw", predictor=2)
    win = CogReader(open(p, "rb").read()).to_numpy(window=(5, 7, 40, 33))
    np.testing.assert_array_equal(win, arr[:, 7:33, 5:40])


def test_java_imageio_interop():
    """Checked-in TIFFs written by Java 17 ImageIO (big-endian, LZW and
    PackBits): pins our decoders to a second independent implementation.
    Pixel formula: (x*7 + y*13) % 251, 70x40 gray u8."""
    import os

    data_dir = os.path.join(os.path.dirname(__file__), "data")
    exp = np.fromfunction(lambda y, x: (x * 7 + y * 13) % 251, (40, 70)).astype(
        np.uint8
    )
    for name, comp in (("java_lzw.tif", 5), ("java_pb.tif", 32773)):
        r = CogReader(open(os.path.join(data_dir, name), "rb").read())
        assert r.byte_order == ">"
        assert r.compression == comp
        np.testing.assert_array_equal(r.to_numpy()[0], exp)


def test_zstd_tiff_gated_and_jvm_interop(spark, tmp_path, monkeypatch):
    """ZSTD COGs (compression tag 50000, VERDICT r2 missing #3). No zstd
    exists in this sandbox's Python, so the codec is environment-gated like
    the Iceberg runtime; this test pins BOTH branches against a second
    implementation (the JVM's zstd-jni, same in-sandbox-interop idea as the
    Java ImageIO fixtures):

    1. a real ZSTD TIFF is produced with zstd-jni as the writer's compressor;
    2. without `zstandard`, decode raises the documented loud error;
    3. with a zstd implementation present (emulated by injecting a
       zstd-jni-backed module through the SAME gated import), the full
       reader path round-trips the pixels exactly.
    """
    import sys
    import types

    import pytest

    jz = spark._jvm.com.github.luben.zstd.Zstd
    rng = np.random.RandomState(31)
    arr = (rng.rand(2, 48, 32) * 255).astype("uint8")
    p = str(tmp_path / "z.tif")
    write_tiff(
        p, arr, tiled=True, tile_size=16, compression="zstd",
        compressor=lambda b: bytes(jz.compress(b, 3)),
    )
    raw = open(p, "rb").read()

    r = CogReader(raw)
    assert r.compression == 50000
    try:
        import zstandard  # noqa: F401

        have_zstd = True
    except ImportError:
        have_zstd = False

    if not have_zstd:
        with pytest.raises(TiffDecodeError, match=r"50000 \(ZSTD\) requires"):
            r.to_numpy()

    # inject a zstd-jni-backed 'zstandard' through the gated import: the
    # reader's real codec path must then decode the file end-to-end
    class _Dec:
        def decompress(self, buf, max_output_size=0):
            size = int(jz.getFrameContentSize(bytes(buf)))
            return bytes(jz.decompress(bytes(buf), size))

    fake = types.ModuleType("zstandard")
    fake.ZstdDecompressor = _Dec
    monkeypatch.setitem(sys.modules, "zstandard", fake)
    np.testing.assert_array_equal(CogReader(raw).to_numpy(), arr)


def test_pluggable_fetcher_through_decode(spark):
    """Custom scheme fetchers ride the UDF closure to executors (R1 fetch
    path made pluggable): a mem:// fetcher serves bytes from a dict; an
    unknown scheme yields the reference-shaped 'Cannot parse url:' error."""
    import io

    from cog3pio_spark.operators.decode import decode_tiles
    from cog3pio_spark.tiff.writer import write_tiff
    import tempfile, os as _os

    d = tempfile.mkdtemp()
    p = _os.path.join(d, "m.tif")
    arr = (np.arange(1, 151, dtype=np.float32) / 7.0).reshape(1, 10, 15)
    write_tiff(p, arr)
    blobs = {"mem://tile/1": open(p, "rb").read()}

    def mem_fetch(ref, _blobs=blobs):
        return _blobs[ref]

    refs = spark.createDataFrame(
        [("mem://tile/1",), ("bogus://x",)], ["media_ref"]
    )
    rows = {
        r["media_ref"]: r
        for r in decode_tiles(refs, fetchers={"mem": mem_fetch}).collect()
    }
    ok = rows["mem://tile/1"]
    assert ok["status"] == "ok" and ok["dtype"] == "float32"
    assert abs(ok["mean"] - float(arr.mean())) < 1e-6
    bad = rows["bogus://x"]
    assert bad["status"] == "error" and "Cannot parse url" in bad["error_msg"]


def test_http_fetcher_error_taxonomy():
    """https scheme is routed to the whole-object GET fetcher; without
    network the failure surfaces as a clean 'Cannot fetch url:' error (never
    a crash), and unknown schemes keep 'Cannot parse url:'."""
    from cog3pio_spark.tiff.reader import TiffDecodeError, _path_to_bytes

    with pytest.raises(TiffDecodeError, match="Cannot (fetch|parse) url"):
        _path_to_bytes("https://127.0.0.1:1/never.tif")
    with pytest.raises(TiffDecodeError, match="Cannot parse url"):
        _path_to_bytes("s3://bucket/key.tif")


def test_lzw_encode_widens_before_eoi():
    """The decoder adds a table entry for the last data code too; when that
    entry reaches a width boundary it reads EOI one bit wider. The encoder
    used to write EOI at the old width, so these prefixes of random bytes
    (each ends where that entry reaches 511, 1023 or 2047, found by a
    sweep over 200-6000 bytes) decoded to extra trailing bytes or a
    corrupt-code error."""
    from lzw_oracle import tiff_lzw_decode

    from cog3pio_spark.tiff.reader import _lzw_decode
    from cog3pio_spark.tiff.writer import lzw_encode

    data = np.random.RandomState(5).randint(0, 256, 6000).astype(np.uint8).tobytes()
    for n in (771, 1818, 4195, 4713, 5758):
        for m in (n - 1, n, n + 1):
            enc = lzw_encode(data[:m])
            assert tiff_lzw_decode(enc) == data[:m], m
            assert _lzw_decode(enc, m) == data[:m], m


def test_writer_big_endian_input_roundtrip():
    """r5 review: write_tiff declares 'II' but used to emit the ARRAY's
    byte order verbatim — a big-endian ('>u2') input wrote byte-swapped
    samples that any conformant reader returned as garbage."""
    import io as _io

    from cog3pio_spark.tiff.writer import write_tiff

    arr = (np.arange(60) * 257 % 65521).reshape(1, 6, 10).astype(">u2")
    buf = _io.BytesIO()
    write_tiff(buf, arr)
    got = CogReader(buf.getvalue()).to_numpy()
    np.testing.assert_array_equal(got, arr.astype(np.uint16))


@pytest.mark.parametrize("fail_at", ["write", "publish"])
def test_writer_failed_write_leaves_no_temp_file(tmp_path, monkeypatch, fail_at):
    """A write that raises mid-stream, or a publish (os.replace) that
    raises, must remove its temp file and leave the target path untouched
    (the old per-process temp name leaked)."""
    import os
    import tempfile

    def boom(*_):
        raise OSError("simulated disk full")

    if fail_at == "publish":
        monkeypatch.setattr(os, "replace", boom)
    else:
        real = tempfile.NamedTemporaryFile

        def failing(*args, **kwargs):
            f = real(*args, **kwargs)
            # the header write goes through; the first image blob raises
            f.write = lambda data: f.file.write(data) if data[:2] == b"II" else boom()
            return f

        monkeypatch.setattr(tempfile, "NamedTemporaryFile", failing)
    with pytest.raises(OSError, match="simulated disk full"):
        write_tiff(str(tmp_path / "x.tif"), np.zeros((4, 4), np.uint8))
    assert os.listdir(tmp_path) == []


def test_writer_concurrent_threads_same_path(tmp_path):
    """Two threads of one process publishing the same path both finish, and
    the file left behind decodes to one of their arrays (the old temp name
    was per process, so the threads clobbered one shared temp file)."""
    import os
    import threading
    from concurrent.futures import ThreadPoolExecutor

    p = str(tmp_path / "same.tif")
    arrays = [np.full((1, 256, 256), v, np.uint16) for v in (1, 2)]
    start = threading.Barrier(2)

    def publish(arr):
        start.wait(timeout=30)
        for _ in range(20):
            write_tiff(p, arr)

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(publish, arrays, timeout=120))  # re-raises a writer error
    got = CogReader(open(p, "rb").read()).to_numpy()
    assert any(np.array_equal(got, a) for a in arrays)
    assert os.listdir(tmp_path) == ["same.tif"]


def test_writer_rgba_extra_samples_imageio_conformant(spark):
    """r5 review: 4-band output used to be BlackIsZero with no ExtraSamples
    (TIFF 6.0-invalid); now RGB + ExtraSamples=alpha. Java ImageIO — an
    independent conformant reader — must read all four bands back exactly."""
    import io as _io

    from cog3pio_spark.tiff.writer import write_tiff

    rng = np.random.RandomState(77)
    arr = rng.randint(0, 256, (4, 9, 13)).astype(np.uint8)
    buf = _io.BytesIO()
    write_tiff(buf, arr)
    raw = buf.getvalue()
    # tag 338 present with 1 SHORT value = 2 (unassociated alpha)
    import struct as _struct

    assert _struct.pack("<HHI", 338, 3, 1) + _struct.pack("<HH", 2, 0) in raw

    jvm = spark._jvm
    bais = jvm.java.io.ByteArrayInputStream(raw)
    bi = jvm.javax.imageio.ImageIO.read(bais)
    assert bi is not None, "ImageIO refused the RGBA TIFF"
    jr = bi.getRaster()
    assert jr.getNumBands() == 4
    for y in range(9):
        for x in range(13):
            for b in range(4):
                assert jr.getSample(x, y, b) == int(arr[b, y, x]), (x, y, b)


def _zero_dims_tiff() -> bytes:
    """Minimal II TIFF declaring 0x0 dims with a 0-byte strip — passes every
    size identity (0 == 0) and decodes to an empty (1, 0, 0) array."""
    import struct as _s

    entries = [
        (256, 3, 1, 0), (257, 3, 1, 0), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 4, 1, 1),
        (279, 4, 1, 0),
    ]
    ifd = _s.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        ifd += _s.pack("<HHI", tag, typ, cnt) + _s.pack("<I", val)
    ifd += _s.pack("<I", 0)
    return b"II" + _s.pack("<HI", 42, 8) + ifd


def test_zero_dims_tiff_is_error_row_not_crash(tmp_path):
    """r5 review: a 0x0 TIFF decoded to an empty array and crashed the
    executor at farr.min() OUTSIDE the error channel; resize hit an
    IndexError via clip(0, -1) on the size-0 axis. Both must be rows."""
    from cog3pio_spark.operators.decode import _decode_one

    raw = _zero_dims_tiff()
    arr = CogReader(raw).to_numpy()
    assert arr.size == 0  # reaches the stats path, not a reader error

    p = tmp_path / "zero.tif"
    p.write_bytes(raw)
    row = _decode_one("file://" + str(p), include_pixels=False)
    assert row["status"] == "error"
    assert "zero-sized image" in row["error_msg"]


def _ifd_offsets(raw: bytes) -> list[int]:
    import struct as _s

    offs, (off,) = [], _s.unpack_from("<I", raw, 4)
    while off:
        offs.append(off)
        (n,) = _s.unpack_from("<H", raw, off)
        (off,) = _s.unpack_from("<I", raw, off + 2 + 12 * n)
    return offs


def test_select_image_wraps_corrupt_overview_tags(tmp_path):
    """An overview IFD whose ImageWidth holds no value is refused with
    TiffDecodeError by both entry points: the constructor and select_image,
    which binds an IFD of an already-parsed chain."""
    import struct as _s

    p = str(tmp_path / "ovr.tif")
    write_tiff(p, np.arange(32 * 32, dtype=np.uint8).reshape(1, 32, 32),
               tiled=True, tile_size=16, overviews=1)
    raw = bytearray(open(p, "rb").read())
    ifd1 = _ifd_offsets(bytes(raw))[1]
    assert _s.unpack_from("<H", raw, ifd1 + 2)[0] == 256  # ImageWidth first
    _s.pack_into("<I", raw, ifd1 + 2 + 4, 0)  # its count
    reader = CogReader(bytes(raw))
    assert reader.num_images == 2 and reader.to_numpy().shape == (1, 32, 32)
    with pytest.raises(TiffDecodeError, match="Cannot parse TIFF: truncated or corrupt"):
        reader.select_image(1)
    with pytest.raises(TiffDecodeError, match="Cannot parse TIFF: truncated or corrupt"):
        CogReader(bytes(raw), image_index=1)


def test_short_tiepoint_gives_stats_only_row(tmp_path):
    """A ModelTiepoint with fewer than 6 values is a corrupt geo tag:
    transform() raises TiffDecodeError, so decode keeps the pixel
    statistics and leaves the geo columns NULL instead of failing the
    task."""
    from cog3pio_spark.operators.decode import _decode_one

    p = tmp_path / "tie3.tif"
    write_tiff(str(p), np.ones((1, 4, 4), np.float32), pixel_scale=(1.0, 1.0),
               tiepoint=(0.0, 0.0, 0.0))
    with pytest.raises(TiffDecodeError, match="Cannot parse TIFF: truncated or corrupt"):
        CogReader(p.read_bytes()).transform()
    row = _decode_one("file://" + str(p), include_pixels=False)
    assert row["status"] == "ok" and row["mean"] == 1.0
    assert row.get("c") is None and row.get("centroid_x") is None
