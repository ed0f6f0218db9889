"""Deterministic corruption fuzz over the real codec decoders (r5).

The r4 corrupt-input regression test drives four hand-crafted crashing
blobs; this sweep goes wider: seeded random byte flips and truncations of
every committed media fixture must yield either a successful decode (a
flip in pixel data is often survivable) or the codec's OWN typed error —
never a bare crash class (IndexError/struct.error/KeyError/MemoryError/…),
which would escape the operators' narrowed corrupt-input catches and kill
executor tasks. Covers the paths single crafted blobs miss: Adam7 pass
accounting, tRNS, progressive scan state, GIF LZW tables, TIFF IFD walk.

Random flips almost never land on a count field, so a second sweep is
structure-aware: it rewrites the count, offset, size and dimension fields
of TIFF IFDs, GIF screen/frame descriptors, PNG IHDR and chunk headers,
JPEG SOF/DHT/DQT/SOS/DRI segments, WAV and WebP chunks and MP4 boxes to
boundary values, drives each decoder and each codec's header parse, and
runs every case in one subprocess under an address-space cap with a
per-case time bound. Work must be sized by the bytes present, never by a
header's claim: each case ends in a decode or in the codec's typed error —
never MemoryError or a timeout.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

import numpy as np

from cog3pio_spark.gif import GifDecodeError, decode_gif
from cog3pio_spark.jpeg import JpegDecodeError, decode_jpeg
from cog3pio_spark.png import PngDecodeError, decode_png
from cog3pio_spark.tiff.reader import CogReader, TiffDecodeError

DATA = os.path.join(os.path.dirname(__file__), "data")

# (name, decode, typed error, flip trials) — every codec decodes these
# fixtures and their mutants in milliseconds (JPEG included: one
# coefficient-store scan decoder), so every case gets the same 20 trials
CASES = [
    ("java_gray.jpg", decode_jpeg, JpegDecodeError, 20),
    ("java_rgb420.jpg", decode_jpeg, JpegDecodeError, 20),
    ("java_gray_prog.jpg", decode_jpeg, JpegDecodeError, 20),
    ("java_rgb_prog.jpg", decode_jpeg, JpegDecodeError, 20),
    ("java_gray.png", decode_png, PngDecodeError, 20),
    ("java_rgba.png", decode_png, PngDecodeError, 20),
    ("java_gray_ilace.png", decode_png, PngDecodeError, 20),
    ("java_rgba_ilace.png", decode_png, PngDecodeError, 20),
    ("java_indexed.gif", decode_gif, GifDecodeError, 20),
    ("java_lzw.tif", lambda b: CogReader(b).to_numpy(), TiffDecodeError, 20),
    ("java_pb.tif", lambda b: CogReader(b).to_numpy(), TiffDecodeError, 20),
]


def _drive(decode, err_type, blob, ctx):
    try:
        out = decode(blob)
    except err_type:
        return  # typed refusal: the contract
    except Exception as exc:  # noqa: BLE001 — the point of the test
        raise AssertionError(
            f"{ctx}: {type(exc).__name__} escaped the {err_type.__name__} "
            f"taxonomy: {exc}"
        ) from exc
    assert isinstance(out, np.ndarray), ctx


def test_byte_flip_fuzz_never_escapes_error_taxonomy():
    rng = np.random.RandomState(1729)
    for name, decode, err_type, trials in CASES:
        raw = open(os.path.join(DATA, name), "rb").read()
        for trial in range(trials):
            buf = bytearray(raw)
            for _ in range(int(rng.randint(1, 4))):
                pos = int(rng.randint(0, len(buf)))
                buf[pos] ^= int(rng.randint(1, 256))
            _drive(decode, err_type, bytes(buf), f"{name} flip#{trial}")


def test_truncation_fuzz_never_escapes_error_taxonomy():
    rng = np.random.RandomState(271828)
    for name, decode, err_type, _trials in CASES:
        raw = open(os.path.join(DATA, name), "rb").read()
        cuts = sorted({int(c) for c in rng.randint(0, len(raw), size=8)})
        for cut in cuts:
            _drive(decode, err_type, raw[:cut], f"{name} cut@{cut}")


# -- structure-aware sweep ------------------------------------------------
SWEEP_AS_LIMIT = 1 << 30  # address-space cap of the sweep process (bytes)
SWEEP_CASE_S = 5.0  # per-case time bound (clean fixtures decode in < 0.2 s)
_U32 = (0, 1, 0xFFFF, 1 << 24, 1 << 28, 0xFFFFFFFF)
_U16 = (0, 1, 0x7FFF, 0xFFFF)


def _put(raw: bytes, pos: int, fmt: str, value: int) -> bytes:
    buf = bytearray(raw)
    struct.pack_into(fmt, buf, pos, value)
    return bytes(buf)


def _tiff_mutants(raw: bytes):
    """Every IFD entry's count and value/offset field, each IFD's entry
    count and next pointer, and the header's first-IFD offset."""
    bo = "<" if raw[:2] == b"II" else ">"
    for v in _U32:
        yield f"ifd0_offset={v:#x}", _put(raw, 4, bo + "I", v)
    (ifd,) = struct.unpack_from(bo + "I", raw, 4)
    while ifd:
        (n,) = struct.unpack_from(bo + "H", raw, ifd)
        for v in _U16:
            yield f"ifd@{ifd}.n_entries={v:#x}", _put(raw, ifd, bo + "H", v)
        for i in range(n):
            e = ifd + 2 + 12 * i
            (tag,) = struct.unpack_from(bo + "H", raw, e)
            for v in _U32:
                yield f"tag{tag}.count={v:#x}", _put(raw, e + 4, bo + "I", v)
                yield f"tag{tag}.value={v:#x}", _put(raw, e + 8, bo + "I", v)
        nxt = ifd + 2 + 12 * n
        for v in _U32:
            yield f"ifd@{ifd}.next={v:#x}", _put(raw, nxt, bo + "I", v)
        (ifd,) = struct.unpack_from(bo + "I", raw, nxt)


def _gif_mutants(raw: bytes):
    """Logical-screen and first-frame descriptor dimensions/offsets, and
    the color-table size bits."""
    for name, pos in (("screen_w", 6), ("screen_h", 8)):
        for v in _U16:
            yield f"{name}={v:#x}", _put(raw, pos, "<H", v)
    both = _put(_put(raw, 6, "<H", 0xFFFF), 8, "<H", 0xFFFF)
    yield "screen=65535x65535", both
    yield "gct_size=7", _put(raw, 10, "B", raw[10] | 0x87)
    pos = 13 + (3 * (2 << (raw[10] & 7)) if raw[10] & 0x80 else 0)
    while raw[pos] == 0x21:  # skip extension blocks to the descriptor
        pos += 2
        while raw[pos]:
            pos += 1 + raw[pos]
        pos += 1
    assert raw[pos] == 0x2C
    for k, name in enumerate(("frame_x", "frame_y", "frame_w", "frame_h")):
        for v in _U16:
            yield f"{name}={v:#x}", _put(raw, pos + 1 + 2 * k, "<H", v)
    big_frame = _put(_put(both, pos + 5, "<H", 0xFFFF), pos + 7, "<H", 0xFFFF)
    yield "frame+screen=65535x65535", big_frame
    packed = raw[pos + 9]
    lzw = pos + 10 + (3 * (2 << (packed & 7)) if packed & 0x80 else 0)
    for v in (0, 1, 7, 9, 12, 0xFF):
        yield f"lzw_min_code_size={v}", _put(raw, lzw, "B", v)
    # min code size 0 (1-bit codes, the width never grows): one segment of
    # 256 literal codes, then a ClearCode
    yield "lzw_m0_long_segment", raw[:lzw] + bytes([0, 33]) + bytes(32) + b"\x01\x00\x3b"


def _png_mutants(raw: bytes):
    """IHDR width/height and every chunk's length field."""
    for name, pos in (("ihdr_w", 16), ("ihdr_h", 20)):
        for v in _U32:
            yield f"{name}={v:#x}", _put(raw, pos, ">I", v)
    pos = 8
    while pos + 8 <= len(raw):
        length, ctype = struct.unpack_from(">I4s", raw, pos)
        for v in _U32:
            yield f"{ctype.decode()}@{pos}.length={v:#x}", _put(raw, pos, ">I", v)
        pos += 12 + length


def _jpeg_mutants(raw: bytes):
    """DRI segments inserted after SOI; every segment's length (0, 1, an
    empty body, one byte short, past EOF); SOF height, width, Nf and each
    component's sampling factors and Tq; DHT code counts summing past the
    segment; DQT Pq/Tq; SOS Ns, Ss, Se and Ah/Al."""
    for v in (0, 1, 0xFFFF):
        yield f"dri={v:#x}", raw[:2] + b"\xff\xdd\x00\x04" + struct.pack(">H", v) + raw[2:]
    yield "dri.length=2", raw[:2] + b"\xff\xdd\x00\x02" + raw[2:]
    pos = 2
    while raw[pos + 1] != 0xD9:  # the fixtures carry no fill bytes
        marker, (n,) = raw[pos + 1], struct.unpack_from(">H", raw, pos + 2)
        at, body, end = f"{marker:#x}@{pos}", pos + 4, pos + 2 + n
        for v in (0, 1, 2, n - 1, len(raw) - pos):
            yield f"{at}.length={v}", _put(raw, pos + 2, ">H", v)
        if marker in (0xC0, 0xC2):
            for name, off in (("height", 1), ("width", 3)):
                for v in _U16:
                    yield f"{at}.{name}={v:#x}", _put(raw, body + off, ">H", v)
            for v in (0, 2, 4, 0xFF):
                yield f"{at}.nf={v}", _put(raw, body + 5, "B", v)
            for c in range(raw[body + 5]):
                comp = body + 6 + 3 * c
                for v in (0x00, 0x01, 0x10, 0x44, 0xFF):
                    yield f"{at}.comp{c}.sampling={v:#x}", _put(raw, comp + 1, "B", v)
                for v in (3, 4, 0xFF):
                    yield f"{at}.comp{c}.tq={v}", _put(raw, comp + 2, "B", v)
        elif marker == 0xC4:  # DHT: Tc/Th, 16 code counts, symbols
            i = body
            while i < end:
                yield f"{at}.table@{i}.counts=255", raw[: i + 1] + bytes([255] * 16) + raw[i + 17 :]
                i += 17 + sum(raw[i + 1 : i + 17])
        elif marker == 0xDB:  # DQT: Pq/Tq, 64 values
            i = body
            while i < end:
                for v in (0x10, 0x04, 0xFF):
                    yield f"{at}.table@{i}.pq_tq={v:#x}", _put(raw, i, "B", v)
                i += 1 + (128 if raw[i] >> 4 else 64)
        elif marker == 0xDA:  # SOS: Ns, Ns selectors, Ss, Se, Ah/Al
            ns = raw[body]
            for v in (0, 4, 0xFF):
                yield f"{at}.ns={v}", _put(raw, body, "B", v)
            for name, off in (("ss", 1), ("se", 2)):
                for v in (0, 1, 63, 64, 0xFF):
                    yield f"{at}.{name}={v}", _put(raw, body + 2 * ns + off, "B", v)
            for v in (0x01, 0x10, 0x0D, 0xD0, 0xFF):
                yield f"{at}.ah_al={v:#x}", _put(raw, body + 2 * ns + 3, "B", v)
            # the entropy-coded data runs to the next non-stuffed, non-RST 0xFF
            end = raw.index(b"\xff", end)
            while raw[end + 1] == 0 or 0xD0 <= raw[end + 1] <= 0xD7:
                end = raw.index(b"\xff", end + 2)
        pos = end


def _riff_mutants(raw: bytes):
    """RIFF size, every chunk size, and the fmt chunk's channel/rate/bits."""
    for v in _U32:
        yield f"riff_size={v:#x}", _put(raw, 4, "<I", v)
    pos = 12
    while pos + 8 <= len(raw):
        cid, size = struct.unpack_from("<4sI", raw, pos)
        for v in _U32:
            yield f"{cid.decode()}.size={v:#x}", _put(raw, pos + 4, "<I", v)
        if cid == b"fmt ":
            fields = (("channels", 2, "<H"), ("rate", 4, "<I"), ("bits", 14, "<H"))
            for name, off, fmt in fields:
                for v in (_U16 if fmt == "<H" else _U32):
                    yield f"fmt.{name}={v:#x}", _put(raw, pos + 8 + off, fmt, v)
        pos += 8 + size + (size & 1)


def _mp4_mutants(raw: bytes):
    """Every box's 32-bit size (0 = to end, 1 = 64-bit largesize follows)."""
    def walk(pos, end):
        while pos + 8 <= end:
            size, btype = struct.unpack_from(">I4s", raw, pos)
            yield pos, btype
            if btype in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                yield from walk(pos + 8, pos + size)
            pos += size

    for pos, btype in list(walk(0, len(raw))):
        for v in (0, 1, 7, 8, 9, 0x7FFFFFFF, 0xFFFFFFFF):
            yield f"{btype.decode()}@{pos}.size={v:#x}", _put(raw, pos, ">I", v)


def _built_tiffs():
    from io import BytesIO

    from cog3pio_spark.tiff.writer import write_tiff

    ramp = np.arange(64, dtype=np.uint8).reshape(1, 8, 8)
    rgb = np.arange(3 * 40 * 40, dtype=np.uint16).reshape(3, 40, 40)
    # five 8-row strips, the last holding 5 rows: strip-table mutations
    # reach a multi-strip assembly (writer_8x8.tif is one strip)
    strips = np.arange(3 * 37 * 29, dtype=np.uint16).reshape(3, 37, 29)
    for name, arr, kw in (
        ("writer_8x8.tif", ramp, {}),
        ("writer_tiled_deflate.tif", rgb,
         {"tiled": True, "tile_size": 16, "compression": "deflate"}),
        ("writer_strips_deflate_pred2.tif", strips,
         {"compression": "deflate", "predictor": 2}),
    ):
        buf = BytesIO()
        write_tiff(buf, arr, **kw)
        yield name, buf.getvalue()


def _built_wav() -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.arange(-400, 400, dtype=np.int16).tobytes())
    return buf.getvalue()


def _built_webps():
    """One RIFF/WEBP blob per chunk kind ``_webp_header`` reads: lossy VP8
    (frame tag, start code, 14-bit dims), lossless VP8L (signature, packed
    dims and alpha bit), and extended VP8X (flags, 24-bit canvas dims)
    followed by the VP8 chunk it describes. Odd-sized chunks carry a pad
    byte."""
    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + bytes(len(body) & 1)

    def riff(*chunks):
        body = b"WEBP" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    vp8 = chunk(b"VP8 ", b"\x10\x02\x00\x9d\x01\x2a" + struct.pack("<HH", 64, 48) + bytes(9))
    bits = 63 | (47 << 14) | (1 << 28)  # 64x48 with alpha
    yield "built_vp8.webp", riff(vp8)
    yield "built_vp8l.webp", riff(chunk(b"VP8L", b"\x2f" + struct.pack("<I", bits) + bytes(6)))
    vp8x = b"\x10" + bytes(3) + (63).to_bytes(3, "little") + (47).to_bytes(3, "little")
    yield "built_vp8x.webp", riff(chunk(b"VP8X", vp8x), vp8)


def _built_mp4() -> bytes:
    def box(btype, payload):
        return struct.pack(">I4s", 8 + len(payload), btype) + payload

    mvhd = bytes(4) + b"\x00" * 8 + struct.pack(">II", 1000, 3000) + b"\x00" * 80
    tkhd = bytes(4) + b"\x00" * 72 + struct.pack(">II", 320 << 16, 180 << 16)
    hdlr = bytes(8) + b"vide" + bytes(12)
    entry = (
        struct.pack(">I4s", 86, b"avc1") + bytes(24)
        + struct.pack(">HH", 320, 180) + bytes(50)
    )
    stsd = bytes(4) + struct.pack(">I", 1) + entry
    stbl = box(b"stbl", box(b"stsd", stsd))
    mdia = box(b"mdia", box(b"hdlr", hdlr) + box(b"minf", stbl))
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", tkhd) + mdia))
    return box(b"ftyp", b"isom" + b"\x00" * 8) + moov


def _sweep_cases(tmpdir: str):
    """(case name, blob, [(surface, decode, typed error), ...])."""
    from cog3pio_spark import gif, jpeg, png
    from cog3pio_spark.operators.multimodal import (
        _parse_mp4,
        _parse_wav,
        _tiff_header,
        _webp_header,
    )
    from cog3pio_spark.tiff.reader import file_range_fetcher

    def tiff_ranged(blob):
        path = os.path.join(tmpdir, "case.tif")
        with open(path, "wb") as f:
            f.write(blob)
        return CogReader.from_fetcher(file_range_fetcher(path)).to_numpy()

    tiff = [
        ("CogReader", lambda b: CogReader(b).to_numpy(), TiffDecodeError),
        ("CogReader.from_fetcher", tiff_ranged, TiffDecodeError),
        ("_tiff_header", _tiff_header, TiffDecodeError),
    ]
    gifs = [("decode_gif", decode_gif, GifDecodeError), ("gif.header", gif.header, GifDecodeError)]
    pngs = [("decode_png", decode_png, PngDecodeError), ("png.header", png.header, PngDecodeError)]
    jpegs = [
        ("decode_jpeg", decode_jpeg, JpegDecodeError),
        ("jpeg.header", jpeg.header, JpegDecodeError),
    ]
    fixture = lambda name: open(os.path.join(DATA, name), "rb").read()  # noqa: E731
    sources = [
        *[(n, fixture(n), _tiff_mutants, tiff) for n in ("java_lzw.tif", "java_pb.tif")],
        *[(n, b, _tiff_mutants, tiff) for n, b in _built_tiffs()],
        ("java_indexed.gif", fixture("java_indexed.gif"), _gif_mutants, gifs),
        *[(n, fixture(n), _png_mutants, pngs) for n in ("java_gray.png", "java_rgba_ilace.png")],
        *[(n, fixture(n), _jpeg_mutants, jpegs) for n in (
            "java_gray.jpg", "java_rgb420.jpg", "java_gray_prog.jpg", "java_rgb_prog.jpg")],
        ("built.wav", _built_wav(), _riff_mutants, [("_parse_wav", _parse_wav, ValueError)]),
        *[(n, b, _riff_mutants, [("_webp_header", _webp_header, ValueError)])
          for n, b in _built_webps()],
        ("built.mp4", _built_mp4(), _mp4_mutants, [("_parse_mp4", _parse_mp4, ValueError)]),
    ]
    for src, raw, mutants, surfaces in sources:
        for case, blob in mutants(raw):
            yield f"{src}:{case}", blob, surfaces


class _CaseTimeout(BaseException):
    """Raised by the interval timer; a BaseException so no codec's
    corrupt-input catch can swallow it."""


def _sweep() -> list[dict]:
    """Run every case; one result per (case, surface): ``ok`` (decoded),
    ``typed`` (the codec's own error) or the escaping class name."""
    import signal
    import tempfile
    import time

    def alarm(signum, frame):
        raise _CaseTimeout

    signal.signal(signal.SIGALRM, alarm)
    out = []
    with tempfile.TemporaryDirectory() as tmpdir:
        for case, blob, surfaces in _sweep_cases(tmpdir):
            for surface, decode, err_type in surfaces:
                t0 = time.perf_counter()
                signal.setitimer(signal.ITIMER_REAL, SWEEP_CASE_S)
                try:
                    decode(blob)
                    outcome = "ok"
                except err_type:
                    outcome = "typed"
                except _CaseTimeout:
                    outcome = "timeout"
                except Exception as exc:  # noqa: BLE001 — MemoryError included
                    outcome = type(exc).__name__
                finally:
                    signal.setitimer(signal.ITIMER_REAL, 0)
                elapsed = time.perf_counter() - t0
                if outcome in ("ok", "typed") and elapsed > SWEEP_CASE_S:
                    outcome = "timeout"  # a C call that ignored the timer
                out.append({"case": case, "surface": surface, "outcome": outcome,
                            "s": round(elapsed, 3)})
    return out


def test_structure_fuzz_work_bounded_by_bytes_present():
    """Every structure-aware mutant decodes or raises the codec's typed
    error inside the sweep process's address-space cap and the per-case
    time bound (TIFF tag counts of 2^28 and a 65535x65535 GIF screen used
    to end in MemoryError)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    env = {**os.environ, "PYTHONPATH": path, "OPENBLAS_NUM_THREADS": "1",
           "OMP_NUM_THREADS": "1"}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--sweep"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    results = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(results) > 500, len(results)
    bad = [r for r in results if r["outcome"] not in ("ok", "typed")]
    assert not bad, f"{len(bad)} of {len(results)} cases escaped: {bad[:12]}"


if __name__ == "__main__" and sys.argv[1:] == ["--sweep"]:
    import resource

    resource.setrlimit(resource.RLIMIT_AS, (SWEEP_AS_LIMIT, SWEEP_AS_LIMIT))
    print(json.dumps(_sweep()))
