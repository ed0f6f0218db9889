"""Differential test: the one chunk-grid TIFF assembly in
``CogReader.to_numpy`` against the per-layout oracles in
tests/tiff_oracle.py (the former per-tile loop for tiled images, the former
strip branches for striped ones) — equal arrays and dtype, or the same
exception type — across dtypes, sample counts, predictors, byte orders,
compressions, ragged and 1-chunk grids, short last strips, RowsPerStrip
absent or 2^32−1, windows, and short, long and missing chunks."""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np
import pytest

from cog3pio_spark.tiff import reader as R
from cog3pio_spark.tiff import writer as W
from cog3pio_spark.tiff.reader import CogReader, TiffDecodeError
from cog3pio_spark.tiff.writer import write_tiff
from tiff_oracle import striped_to_numpy, tiled_to_numpy

DTYPES = ["uint8", "uint16", "int16", "float32", "float64"]
TILE = 16
# (h, w): one full tile, one cut tile, a ragged grid, an exact grid
SHAPES = [(16, 16), (5, 7), (40, 53), (32, 48)]
# (h, w) of striped images: with the writer's 8-row strips, two full
# strips, one short strip, five full strips and a short fifth strip
STRIP_SHAPES = [(16, 16), (5, 7), (40, 53), (37, 29)]
# (rows per strip, RowsPerStrip tag) of the hand-built big-endian strips:
# 3-row strips, one strip with the tag absent, and libtiff's single-strip
# value 2^32−1
STRIPS = [(3, 3), (None, None), (None, 0xFFFFFFFF)]


@pytest.fixture(params=["tile-row", "per-tile"])
def join_mode(request, monkeypatch):
    """Run each case with rows joined (small tiles) and with tiles placed
    one by one (as tiles of ``_JOIN_MAX_BYTES`` and up are)."""
    if request.param == "per-tile":
        monkeypatch.setattr(R, "_JOIN_MAX_BYTES", 0)
    return request.param


def _array(dtype: str, samples: int, h: int, w: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    if np.dtype(dtype).kind == "f":
        return (rng.standard_normal((samples, h, w)) * 1e3).astype(dtype)
    info = np.iinfo(dtype)
    return rng.randint(info.min, int(info.max) + 1, (samples, h, w)).astype(dtype)


def _be_tiff(arr: np.ndarray, compression: int, predictor: int, strips=None) -> bytes:
    """A big-endian ('MM') TIFF of ``arr`` (samples, h, w), raw (1) or
    deflate (8) — the package's writer only emits little-endian and 8-row
    strips. Tiled in TILE-px tiles, or, with ``strips=(rows, tag)``, cut
    into ``rows``-row strips (all of ``h`` if None) whose RowsPerStrip tag
    holds ``tag`` (absent if None)."""
    s, h, w = arr.shape
    if strips is None:
        tx, ty = -(-w // TILE), -(-h // TILE)
        pad = np.zeros((ty * TILE, tx * TILE, s), arr.dtype)
        pad[:h, :w] = np.moveaxis(arr, 0, -1)
        cells = [
            pad[j * TILE : (j + 1) * TILE, i * TILE : (i + 1) * TILE]
            for j in range(ty) for i in range(tx)
        ]
    else:
        rows = strips[0] or h
        chunky = np.moveaxis(arr, 0, -1)
        cells = [chunky[y : y + rows] for y in range(0, h, rows)]
    chunks = []
    for t in cells:
        t = t.copy()
        if predictor == 2 and t.dtype.kind != "f":
            t[:, 1:] = t[:, 1:] - t[:, :-1]  # wraps, as the format does
        b = t.astype(t.dtype.newbyteorder(">")).tobytes()
        chunks.append(zlib.compress(b) if compression == 8 else b)
    offsets, pos = [], 8
    for c in chunks:
        offsets.append(pos)
        pos += len(c)
    tail = bytearray()

    def out_of_line(fmt: str, vals) -> int:
        tail.extend(struct.pack(f">{len(vals)}{fmt}", *vals))
        return pos + len(tail) - struct.calcsize(f">{len(vals)}{fmt}")

    bits = arr.dtype.itemsize * 8
    fmt = {"u": 1, "i": 2, "f": 3}[arr.dtype.kind]
    entries = [
        (W.IMAGE_WIDTH, 4, [w]),
        (W.IMAGE_LENGTH, 4, [h]),
        (W.BITS_PER_SAMPLE, 3, [bits] * s),
        (W.COMPRESSION, 3, [compression]),
        (W.PHOTOMETRIC, 3, [2 if s == 3 else 1]),
        (W.SAMPLES_PER_PIXEL, 3, [s]),
        (W.PLANAR_CONFIG, 3, [1]),
        (W.PREDICTOR, 3, [predictor]),
        (W.SAMPLE_FORMAT, 3, [fmt] * s),
    ]
    counts = [len(c) for c in chunks]
    if strips is None:
        entries += [
            (W.TILE_WIDTH, 3, [TILE]),
            (W.TILE_LENGTH, 3, [TILE]),
            (W.TILE_OFFSETS, 4, offsets),
            (W.TILE_BYTE_COUNTS, 4, counts),
        ]
    else:
        entries += [(W.STRIP_OFFSETS, 4, offsets), (W.STRIP_BYTE_COUNTS, 4, counts)]
        if strips[1] is not None:
            entries.append((W.ROWS_PER_STRIP, 4, [strips[1]]))
    ifd = bytearray(struct.pack(">H", len(entries)))
    for tag, typ, vals in sorted(entries):
        f = "H" if typ == 3 else "I"
        payload = struct.pack(f">{len(vals)}{f}", *vals)
        if len(payload) <= 4:
            ifd += struct.pack(">HHI", tag, typ, len(vals)) + payload.ljust(4, b"\0")
        else:
            ifd += struct.pack(">HHII", tag, typ, len(vals), out_of_line(f, vals))
    ifd += struct.pack(">I", 0)
    body = b"".join(chunks) + bytes(tail)
    return b"MM\x00\x2a" + struct.pack(">I", 8 + len(body)) + body + bytes(ifd)


def _le_tiff(arr: np.ndarray, compression: str, predictor: int, tiled: bool = True) -> bytes:
    buf = io.BytesIO()
    write_tiff(buf, arr, tiled=tiled, tile_size=TILE, compression=compression,
               predictor=predictor)
    return buf.getvalue()


def _windows(h: int, w: int) -> list:
    return [
        None,
        (0, 0, w, h),  # the whole image, given as a window
        (-4, -9, w + 7, h + 30),  # clipped to the image
        (1, 2, 4, 5),  # inside one tile
        (0, 0, min(w, TILE), min(h, TILE)),  # exactly the first tile
        (w - 3, h - 2, w, h),  # on the bottom-right image edge
        (min(w, TILE) - 1, min(h, TILE) - 1, w, h),  # straddling tile edges
        (3, h // 2, w - 2, h // 2 + 1),  # one row across every tile column
        (w // 2, 0, w // 2 + 1, h),  # one column down every tile row
        (w, 0, w + 4, h),  # empty after clipping
        (0, 7, w, 10),  # across the first 8-row strip boundary
    ]


def _outcome(fn):
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 — the type is compared
        return exc


def _oracle(reader: CogReader, window):
    if W.TILE_OFFSETS in reader.tags:
        return tiled_to_numpy(reader, window)
    return striped_to_numpy(reader, window)


def _assert_same(reader: CogReader, window, refuses: bool = False) -> None:
    """The new path's outcome equals the oracle's; with ``refuses``, the
    new path raises where the oracle may have decoded (a window that
    touches a chunk holding other than exactly its own rows)."""
    got = _outcome(lambda: reader.to_numpy(window=window))
    exp = _outcome(lambda: _oracle(reader, window))
    if refuses:
        assert isinstance(got, TiffDecodeError), (window, got)
        return
    if isinstance(exp, Exception) or isinstance(got, Exception):
        assert type(got) is type(exp), (window, got, exp)
        return
    assert got.dtype == exp.dtype and got.shape == exp.shape, window
    assert got.flags.c_contiguous
    np.testing.assert_array_equal(got, exp, err_msg=str(window))


def _cases(dtype: str):
    seed = 0
    for samples in (1, 3):
        for predictor in (1, 2):
            for h, w in SHAPES:
                seed += 1
                arr = _array(dtype, samples, h, w, seed)
                # the package's writer refuses predictor 2 on floats; the
                # big-endian files carry it, to pin the decode error
                if predictor == 1 or arr.dtype.kind != "f":
                    for comp in ("none", "deflate", "lzw"):
                        yield arr, _le_tiff(arr, comp, predictor)
                for comp in (1, 8):
                    yield arr, _be_tiff(arr, comp, predictor)


def _strip_cases(dtype: str):
    seed = 100
    for samples in (1, 3):
        for predictor in (1, 2):
            for h, w in STRIP_SHAPES:
                seed += 1
                arr = _array(dtype, samples, h, w, seed)
                if predictor == 1 or arr.dtype.kind != "f":
                    for comp in ("none", "deflate", "lzw"):
                        yield arr, _le_tiff(arr, comp, predictor, tiled=False)
                for comp in (1, 8):
                    for strips in STRIPS:
                        yield arr, _be_tiff(arr, comp, predictor, strips)


def _assert_cases_match(cases) -> int:
    n_ok = 0
    for arr, raw in cases:
        reader = CogReader(raw)
        for window in _windows(*arr.shape[1:]):
            _assert_same(reader, window)
        if reader.predictor == 1 or arr.dtype.kind != "f":
            np.testing.assert_array_equal(reader.to_numpy(), arr)
            n_ok += 1
    return n_ok


@pytest.mark.parametrize("dtype", DTYPES)
def test_assembly_matches_per_tile_oracle(dtype, join_mode):
    assert _assert_cases_match(_cases(dtype)) >= 40


@pytest.mark.parametrize("dtype", DTYPES)
def test_striped_assembly_matches_strip_oracle(dtype, join_mode):
    """Writer strips (8 rows, short last strip), hand-built big-endian
    3-row strips, and single strips with RowsPerStrip absent or 2^32−1."""
    assert _assert_cases_match(_strip_cases(dtype)) >= 70


def _touched(window, h: int, w: int, rows: int) -> set:
    """Indices of the ``rows``-row strips a window touches, after clipping."""
    x0, y0, x1, y1 = (0, 0, w, h) if window is None else window
    x0, y0, x1, y1 = max(0, x0), max(0, y0), min(w, x1), min(h, y1)
    return set(range(y0 // rows, (y1 - 1) // rows + 1)) if x0 < x1 and y0 < y1 else set()


def _check_bad_chunks(dtype: str, comp: str, tiled: bool) -> None:
    """Short, long and missing chunks (and a zero-length sparse entry)
    raise the same error type on both paths, for every window, touching
    the bad chunk or not; a chunk moved onto the header decodes to the same
    bytes on both. A raw strip that holds more than its rows decoded on the
    strip oracle wherever the extra bytes completed a window; the new path
    refuses every window that touches it, as it does for tiles."""
    h, w = (40, 53) if tiled else (37, 53)  # 3×4 tiles, or 8-row strips with a 5-row fifth
    arr = _array(dtype, 3, h, w, 7)
    if comp == "be-raw":
        raw = _be_tiff(arr, 1, 1, None if tiled else (8, 8))
    else:
        raw = _le_tiff(arr, comp, 1, tiled)
    o_tag, c_tag = (
        (W.TILE_OFFSETS, W.TILE_BYTE_COUNTS) if tiled
        else (W.STRIP_OFFSETS, W.STRIP_BYTE_COUNTS)
    )
    n_chunks = len(CogReader(raw).tags[o_tag])
    assert n_chunks == (12 if tiled else 5)
    mid = 5 if tiled else 2  # tile 5: second tile row, second column
    row = (TILE if tiled else w) * 3 * np.dtype(dtype).itemsize  # one chunk row
    # bytes after a deflate stream's end are not part of the stream
    raw_long = comp != "deflate"
    # name -> (offset, count) rewrite, whether a full decode must raise, and
    # whether a strip window touching the chunk diverges from the oracle
    mutations = {
        "short": (lambda o, c: (o, c - 3), True, False),
        "short-by-one-sample": (lambda o, c: (o, c - np.dtype(dtype).itemsize), True, False),
        "long": (lambda o, c: (o, c + 8), raw_long, False),
        "long-by-a-row": (lambda o, c: (o, c + row), raw_long, raw_long),
        "missing": (lambda o, c: (len(raw) + 100, c), True, False),
        "sparse": (lambda o, c: (0, 0), True, False),
        "header": (lambda o, c: (0, c), comp == "deflate", False),
    }

    def check(reader, bad: set, diverges: bool) -> None:
        for window in _windows(h, w):
            refuses = diverges and not tiled and bool(_touched(window, h, w, 8) & bad)
            _assert_same(reader, window, refuses)

    for name, (mutate, must_raise, diverges) in mutations.items():
        for bad in (0, mid, n_chunks - 1):
            reader = CogReader(raw)
            offs, counts = list(reader.tags[o_tag]), list(reader.tags[c_tag])
            offs[bad], counts[bad] = mutate(offs[bad], counts[bad])
            reader.tags[o_tag], reader.tags[c_tag] = offs, counts
            check(reader, {bad}, diverges)
            if must_raise:
                with pytest.raises(TiffDecodeError):
                    reader.to_numpy()
    # a short chunk beside a long one: together they hold two chunks' bytes
    reader = CogReader(raw)
    counts = list(reader.tags[c_tag])
    counts[mid - 1] -= 6
    counts[mid] += 6
    reader.tags[c_tag] = counts
    check(reader, {mid - 1, mid}, raw_long)
    with pytest.raises(TiffDecodeError):
        reader.to_numpy()


@pytest.mark.parametrize("dtype", ["uint8", "float32"])
@pytest.mark.parametrize("comp", ["none", "deflate", "be-raw"])
def test_assembly_bad_chunks_match_oracle(dtype, comp, join_mode):
    _check_bad_chunks(dtype, comp, tiled=True)


@pytest.mark.parametrize("dtype", ["uint8", "float32"])
@pytest.mark.parametrize("comp", ["none", "deflate", "be-raw"])
def test_striped_bad_chunks_match_oracle(dtype, comp, join_mode):
    _check_bad_chunks(dtype, comp, tiled=False)


def test_assembly_truncated_tile_table_matches_oracle():
    arr = _array("uint16", 1, 40, 53, 3)
    reader = CogReader(_le_tiff(arr, "none", 1))
    reader.tags[W.TILE_BYTE_COUNTS] = reader.tags[W.TILE_BYTE_COUNTS][:-1]
    _assert_same(reader, None)
    with pytest.raises(TiffDecodeError, match="12 tiles expected"):
        reader.to_numpy()


def test_striped_truncated_strip_table_matches_oracle(join_mode):
    """A strip table one entry short of the grid: every decode raises, as
    for tiles, where the strip oracle still decoded windows above the
    missing strip."""
    arr = _array("uint16", 1, 37, 53, 3)
    reader = CogReader(_le_tiff(arr, "none", 1, tiled=False))
    reader.tags[W.STRIP_BYTE_COUNTS] = reader.tags[W.STRIP_BYTE_COUNTS][:-1]
    _assert_same(reader, None)
    for window in _windows(37, 53):
        _assert_same(reader, window, refuses=bool(_touched(window, 37, 53, 8)))
    with pytest.raises(TiffDecodeError, match="5 strips expected"):
        reader.to_numpy()


def test_corrupt_samples_per_pixel_raises_before_allocating():
    """SamplesPerPixel 65535 on a 40×40 grid of 16-px tiles declares a
    105 MB output from a few-KB file: the decode raises on the first short
    tile without allocating it (the per-tile path zero-filled it first)."""
    import tracemalloc

    arr = _array("uint8", 3, 40, 40, 11)
    reader = CogReader(_le_tiff(arr, "none", 1))
    reader.tags[W.SAMPLES_PER_PIXEL] = [65535]
    reader._bind_image(0)
    assert reader.samples * reader.height * reader.width > 100_000_000
    tracemalloc.start()
    try:
        with pytest.raises(TiffDecodeError):
            reader.to_numpy()
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1_000_000, peak
