"""The numpy LZW kernel (cog3pio_spark/lzw.py) against the sequential
oracle (tests/lzw_oracle.py), plus the output and memory bounds.

Differential contract: on every stream, TIFF and GIF, the kernel returns
the oracle's bytes or raises the oracle's exception type with the same
message. Streams come from ``writer.lzw_encode``, from a second encoder
here (either bit order, either width rule, 1-8 bit literals, optionally
never clearing its table), from hand-packed code lists that hit every
width boundary and edge case, and from bit flips and truncations of all
of those.
"""

from __future__ import annotations

import contextlib
import os
import signal
import tracemalloc
import zlib

import numpy as np
import pytest
from lzw_oracle import gif_lzw_decode, tiff_lzw_decode

from cog3pio_spark.gif import GifDecodeError, _lzw_decode_gif
from cog3pio_spark.lzw import RUN_LOOK
from cog3pio_spark.png import PngDecodeError, decode_png
from cog3pio_spark.tiff import writer as W
from cog3pio_spark.tiff.reader import CogReader, TiffDecodeError, _lzw_decode

TIFF = dict(lsb_first=False, early_change=True, min_code_size=8)


def _gif(m):
    return dict(lsb_first=True, early_change=False, min_code_size=m)


def pack(codes, *, lsb_first, early_change, min_code_size):
    """Pack codes at the widths the oracle decoders read them: the width
    restarts at ``min_code_size + 1`` after a ClearCode and grows when the
    decoder's table reaches ``2**w`` entries (GIF) or its next code reaches
    ``2**w - 1`` (TIFF, which adds no entry for a segment's first code)."""
    clear = 1 << min_code_size
    width, k = min_code_size + 1, 0
    acc = nbits = 0
    out = bytearray()
    for code in codes:
        if lsb_first:
            acc |= code << nbits
        else:
            acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            if lsb_first:
                out.append(acc & 0xFF)
                acc >>= 8
            else:
                out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        if not lsb_first:
            acc &= (1 << nbits) - 1
        if code == clear:
            width, k = min_code_size + 1, 0
            continue
        size = clear + 2 + k  # table entries (GIF) / next code (TIFF)
        if early_change:
            if k >= 1 and size == (1 << width) - 1 and width < 12:
                width += 1
        elif size == (1 << width) and width < 12:
            width += 1
        k += 1
    if nbits:
        out.append(acc & 0xFF if lsb_first else (acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def encode(data, *, reset=True, **dialect):
    """LZW-encode ``data`` (values below ``2**min_code_size``). With
    ``reset=False`` the table stops growing at 4096 entries and no
    ClearCode follows, so the decoders' tables run past 4096."""
    clear = 1 << dialect["min_code_size"]
    fresh = {bytes([i]): i for i in range(clear)}
    table, nxt = dict(fresh), clear + 2
    codes, w = [clear], b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        codes.append(table[w])
        if nxt < 4096:
            table[wc] = nxt
            nxt += 1
        elif reset:
            codes.append(clear)
            table, nxt = dict(fresh), clear + 2
        w = bytes([byte])
    if w:
        codes.append(table[w])
    codes.append(clear + 1)
    return pack(codes, **dialect)


def _outcome(fn, *args):
    try:
        return bytes(fn(*args))
    except Exception as exc:  # noqa: BLE001 — the outcome is compared
        return type(exc), str(exc)


def _same_tiff(stream):
    want = _outcome(tiff_lzw_decode, stream)
    # bound by the oracle's output: a decode that fits exactly must pass
    max_out = len(want) if isinstance(want, bytes) else 1 << 40
    assert _outcome(_lzw_decode, stream, max_out) == want, stream[:32]
    return want


def _same_gif(stream, m, n_pixels):
    want = _outcome(gif_lzw_decode, stream, m, n_pixels)
    assert _outcome(_lzw_decode_gif, stream, m, n_pixels) == want, (m, n_pixels)
    return want


def _mutants(rng, stream, n):
    """``n`` copies with 1-4 flipped bits and ``n`` truncations."""
    for _ in range(n):
        buf = bytearray(stream)
        if buf:
            for _ in range(int(rng.randint(1, 5))):
                buf[rng.randint(len(buf))] ^= 1 << int(rng.randint(8))
        yield bytes(buf)
        yield stream[: int(rng.randint(len(stream) + 1))]


def _data(rng, alphabet, n):
    """Random symbols with repeated runs, so long table entries occur."""
    sym = rng.randint(alphabet, size=n + 1).astype(np.uint8)
    return bytes(np.repeat(sym, rng.randint(1, 40, size=n + 1))[:n])


@pytest.mark.parametrize("alphabet", [1, 2, 4, 256])
def test_tiff_writer_streams_and_mutants_match_oracle(alphabet):
    rng = np.random.RandomState(alphabet)
    sizes = [0, 1, 2, 300, 4096, 65536] + [int(s) for s in rng.randint(0, 65536, 4)]
    for n in sizes:
        data = _data(rng, alphabet, n)
        stream = W.lzw_encode(data)
        assert _same_tiff(stream) == data
        for mutant in _mutants(rng, stream, 3 if n > 5000 else 8):
            _same_tiff(mutant)


@pytest.mark.parametrize("m", range(1, 9))
def test_gif_encoded_streams_and_mutants_match_oracle(m):
    rng = np.random.RandomState(100 + m)
    for n in (0, 1, 7, 500, 9000, int(rng.randint(1, 30000))):
        data = _data(rng, 1 << m, n)
        stream = encode(data, **_gif(m))
        assert _same_gif(stream, m, n) == data
        # cut off early, and asked for more than the stream holds
        _same_gif(stream, m, n // 2)
        _same_gif(stream, m, n + 1)
        for mutant in _mutants(rng, stream, 4):
            _same_gif(mutant, m, n)


@pytest.mark.parametrize("m", range(0, 9))
def test_gif_random_code_streams_match_oracle(m):
    """Arbitrary bytes: mostly invalid codes, and for ``min_code_size`` 0
    (width 1 forever, no reachable EOI) the only streams there are."""
    rng = np.random.RandomState(200 + m)
    for _ in range(60):
        stream = rng.bytes(int(rng.randint(0, 400)))
        _same_gif(stream, m, int(rng.randint(0, 3000)))


def test_gif_min_code_size_above_8_is_refused():
    # the oracle failed building its table (bytes([256])); the kernel
    # refuses the size by name — both before reading any code
    with pytest.raises(ValueError):
        gif_lzw_decode(b"\x00\x01", 9, 4)
    with pytest.raises(GifDecodeError, match="minimum code size 9 exceeds 8"):
        _lzw_decode_gif(b"\x00\x01", 9, 4)


def test_gif_codes_after_the_pixel_count_are_not_read():
    m = 2
    good = [4, 1, 2, 3, 0]  # clear + four literals; then 4-bit codes < 10
    for tail in ([15, 15], [4, 6, 7], [5, 7]):  # bad code, clear, EOI
        stream = pack(good + tail, **_gif(m))
        assert _same_gif(stream, m, 4) == bytes([1, 2, 3, 0])
        assert _same_gif(stream, m, 3) == bytes([1, 2, 3])
    # one more pixel than the good codes give: the tail is read and fails
    assert _same_gif(pack(good + [15, 15], **_gif(m)), m, 5) == (
        GifDecodeError, "Cannot decode GIF: LZW code out of range")
    # a truncated tail: the pixel count is short
    want = _same_gif(pack(good, **_gif(m))[:1], m, 4)
    assert want == (GifDecodeError, "Cannot decode GIF: expected 4 pixels, got 1")
    # with a zero pixel count nothing is read, not even a bad first code
    assert _same_gif(pack([7, 7], **_gif(m)), m, 0) == b""


@contextlib.contextmanager
def _time_bound(seconds):
    """Fail the test, rather than hang it, when a decode loops."""

    def fail(signum, frame):
        raise TimeoutError(f"decode ran past {seconds} s")

    old = signal.signal(signal.SIGALRM, fail)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


@pytest.mark.parametrize("m", range(0, 9))
def test_gif_segments_around_the_run_window(m):
    """Segments of about RUN_LOOK codes and longer, each ended by a
    ClearCode. With ``min_code_size`` 0 the width never grows, so only the
    window size tells a short segment from a long one."""
    clear = 1 << m
    with _time_bound(60):
        if m == 0:  # 256 literals, a ClearCode, 7 literals
            assert _same_gif(b"\x00" * 32 + b"\x01", 0, 1000) == (
                GifDecodeError, "Cannot decode GIF: expected 1000 pixels, got 263")
        for n in (RUN_LOOK - 2, RUN_LOOK - 1, RUN_LOOK, RUN_LOOK + 1, 300, 1000):
            lits = [(7 * i) % clear for i in range(n)]
            codes = ([clear] + lits) * 3 + [clear] + lits[:5]
            if m:  # EOI is not a 1-bit code
                codes.append(clear + 1)
            stream = pack(codes, **_gif(m))
            total = 3 * n + min(n, 5)
            assert _same_gif(stream, m, total) == bytes(lits * 3 + lits[:5])
            _same_gif(stream, m, total + 1)
            _same_gif(stream, m, n + 1)


@pytest.mark.parametrize("lsb_first", [False, True])
def test_width_boundaries(lsb_first):
    """Segments of every length around each width step, ended by a
    KwKwK code, the largest code allowed, a ClearCode or EOI."""
    dialect = _gif(8) if lsb_first else TIFF
    first = 258
    for step in (253, 254, 765, 766, 1789, 1790, 4093, 4094, 4095, 4096):
        for n in range(step - 2, step + 3):
            lits = [(7 * i) % 256 for i in range(n)]
            for end in ([first + n - 1], [first + n - 2], [first + n], [256, 65], []):
                if max(end, default=0) >= 4096:
                    continue  # not a 12-bit code
                codes = [256] + lits + end + [257]
                stream = pack(codes, lsb_first=lsb_first, early_change=not lsb_first,
                              min_code_size=8)
                if lsb_first:
                    _same_gif(stream, 8, n)
                    _same_gif(stream, 8, 10**6)
                else:
                    _same_tiff(stream)


def test_tiff_hand_built_edge_streams():
    p = lambda codes: pack(codes, **TIFF)  # noqa: E731
    assert _same_tiff(p([256, 65, 258, 257])) == b"AAA"  # KwKwK at 258
    assert _same_tiff(p([256, 256, 65, 66, 257])) == b"AB"  # double clear
    assert _same_tiff(p([256, 65, 66])) == b"AB"  # no EOI
    assert _same_tiff(p([257, 65])) == b""  # EOI first
    assert _same_tiff(p([256, 65, 256, 66, 258, 257])) == b"ABBB"
    assert _same_tiff(b"") == b"" and _same_tiff(b"\x80") == b""
    # runs of short segments, read on one grid, next to long ones
    assert _same_tiff(p([256] * 700 + [65, 257])) == b"A"
    assert _same_tiff(p([256, 65, 66] * 300 + [257])) == b"AB" * 300
    mixed = ([256] + [65] * 300 + [256, 66, 258]) * 20 + [256, 67]
    assert _same_tiff(p(mixed)) == (b"A" * 300 + b"BBB") * 20 + b"C"
    for codes, msg in (
        ([65, 66, 257], "stream missing ClearCode"),
        ([256, 65, 300, 257], "corrupt code 300"),  # above next_code
        ([256, 258, 257], "corrupt code 258"),  # KwKwK with no prefix
        ([256, 259, 257], "corrupt code 259"),
        ([256, 65, 66, 256, 300], "corrupt code 300"),  # first of a segment
    ):
        assert _same_tiff(p(codes)) == (TiffDecodeError, f"Cannot decode LZW: {msg}")


@pytest.mark.parametrize("dialect", ["tiff", "gif"])
def test_table_past_4096_without_clear(dialect):
    rng = np.random.RandomState(7)
    kw = TIFF if dialect == "tiff" else _gif(8)
    data = _data(rng, 4, 200_000) + rng.bytes(30_000)
    stream = encode(data, reset=False, **kw)
    if dialect == "tiff":
        assert _same_tiff(stream) == data
    else:
        assert _same_gif(stream, 8, len(data)) == data
    for mutant in _mutants(rng, stream, 2):
        if dialect == "tiff":
            _same_tiff(mutant)
        else:
            _same_gif(mutant, 8, len(data))


# -- bounds ----------------------------------------------------------------
def test_lzw_output_bound_refuses_before_materialising():
    data = b"\x00" * 100_000
    stream = W.lzw_encode(data)
    assert _lzw_decode(stream, len(data)) == data
    tracemalloc.start()
    try:
        with pytest.raises(TiffDecodeError, match="decodes to more than 99999 bytes"):
            _lzw_decode(stream, len(data) - 1)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < len(data) // 2, peak


def _tiled_tiff(path, monkeypatch, compression, chunk):
    """A 16x16 uint8 tiled TIFF whose one tile holds ``chunk``."""
    if compression == "lzw":
        monkeypatch.setattr(W, "lzw_encode", lambda buf: chunk)
    else:
        monkeypatch.setattr(W.zlib, "compress", lambda buf, level: chunk)
    W.write_tiff(path, np.zeros((1, 16, 16), np.uint8), tiled=True,
                 compression=compression)
    monkeypatch.undo()
    with open(path, "rb") as f:
        return f.read()


def _lzw_bomb(n_codes):
    """Codes 65, 258, 259, ...: each repeats the last output plus one byte,
    so n codes decode to n(n+1)/2 bytes."""
    return pack([256, 65] + [258 + i for i in range(n_codes - 1)], **TIFF)


@pytest.mark.parametrize("compression", ["deflate", "lzw"])
def test_tiff_tile_bomb_raises_without_large_allocation(tmp_path, monkeypatch, compression):
    if compression == "deflate":
        bomb = zlib.compress(b"\x00" * 1_000_000, 9)
        inflated = 1_000_000
    else:
        bomb = _lzw_bomb(900)
        inflated = 900 * 901 // 2
    assert len(bomb) < 1200
    raw = _tiled_tiff(str(tmp_path / "bomb.tif"), monkeypatch, compression, bomb)
    tracemalloc.start()
    try:
        with pytest.raises(TiffDecodeError, match="more than 256 bytes|past 256 bytes"):
            CogReader(raw).to_numpy()
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < inflated // 4, (peak, inflated)


def test_png_idat_bomb_raises_without_large_allocation():
    import struct

    def chunk(kind, body):
        return (struct.pack(">I", len(body)) + kind + body
                + struct.pack(">I", zlib.crc32(kind + body)))

    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 1_000_000, 9)
    assert len(bomb) < 1200
    raw = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb)
           + chunk(b"IEND", b""))
    tracemalloc.start()
    try:
        with pytest.raises(PngDecodeError, match="expected 272 filtered bytes, got more"):
            decode_png(raw)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 200_000, peak


# traced bytes at the peak per decoded byte: the output (built by the
# kernel, then copied once to ``bytes``) plus index arrays for one ClearCode
# segment and one slice of output bytes (measured: 2.2 with ClearCodes,
# 4.1 for the one long segment without)
PEAK_MULTIPLE = 5


@pytest.mark.parametrize("reset", [True, False], ids=["clear_segments", "no_clear"])
def test_transient_memory_is_a_small_multiple_of_the_output(reset):
    rng = np.random.RandomState(11)
    if reset:  # a 1.3 MB chunk of ~300 ClearCode segments, 1 MB decoded
        data = rng.bytes(1 << 20)
        stream = W.lzw_encode(data)
        assert len(stream) > 1 << 20
    else:  # one segment of ~36,000 codes, its table past 4096
        data = _data(rng, 4, 1 << 20)
        stream = encode(data, reset=False, **TIFF)
    tracemalloc.start()
    try:
        out = _lzw_decode(stream, len(data))
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert out == data
    assert peak <= PEAK_MULTIPLE * len(data), peak / len(data)


def test_java_fixtures_decode_exactly_through_the_kernel():
    data = os.path.join(os.path.dirname(__file__), "data")
    with open(os.path.join(data, "java_lzw.tif"), "rb") as f:
        r = CogReader(f.read())
    strips = [r._read(o, c) for o, c in zip(r.tags[W.STRIP_OFFSETS],
                                              r.tags[W.STRIP_BYTE_COUNTS])]
    assert r.compression == 5 and strips
    for s in strips:
        want = tiff_lzw_decode(s)
        assert _lzw_decode(s, len(want)) == want
