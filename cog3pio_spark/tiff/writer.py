"""Minimal deterministic TIFF writer (classic, little-endian).

Supports exactly what the fixture matrix needs (FIXTURES.md §3):
striped or tiled layout, uncompressed / DEFLATE (zlib) / LZW / PackBits
(the compressions the reference's ``tiff``-crate backend decodes —
/root/reference/Cargo.toml:49, decode at src/io/geotiff.rs:46), optional
horizontal-differencing predictor (TIFF 6.0 §14), chunky
(pixel-interleaved) planar config, all reference dtypes
{u8,u16,u32,u64,i8,i16,i32,i64,f16,f32,f64}, 1..n bands, optional GeoTIFF
ModelPixelScale/ModelTiepoint tags, and a palette-color mode used only to
produce the reference's unsupported-colortype error fixture
(/root/reference/python/tests/test_io_geotiff.py:90-103).
"""

from __future__ import annotations

import os
import struct
import sys
import tempfile
import zlib

import numpy as np

_LITTLE = sys.byteorder == "little"

# TIFF tag ids
IMAGE_WIDTH = 256
IMAGE_LENGTH = 257
BITS_PER_SAMPLE = 258
COMPRESSION = 259  # 1 = none, 5 = LZW, 8 = Adobe DEFLATE (zlib), 32773 = PackBits
PHOTOMETRIC = 262  # 1 = BlackIsZero, 2 = RGB, 3 = Palette
STRIP_OFFSETS = 273
SAMPLES_PER_PIXEL = 277
ROWS_PER_STRIP = 278
STRIP_BYTE_COUNTS = 279
PLANAR_CONFIG = 284  # 1 = chunky
PREDICTOR = 317  # 1 = none, 2 = horizontal differencing
COLOR_MAP = 320
TILE_WIDTH = 322
TILE_LENGTH = 323
TILE_OFFSETS = 324
TILE_BYTE_COUNTS = 325
SAMPLE_FORMAT = 339  # 1 = uint, 2 = int, 3 = float
EXTRA_SAMPLES = 338  # 2 = unassociated alpha
MODEL_PIXEL_SCALE = 33550
MODEL_TIEPOINT = 33922
MODEL_TRANSFORMATION = 34264

_TYPE_SHORT = 3
_TYPE_LONG = 4
_TYPE_DOUBLE = 12
_TYPE_SIZES = {_TYPE_SHORT: 2, _TYPE_LONG: 4, _TYPE_DOUBLE: 8}
_TYPE_FMT = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}

_SAMPLE_FORMAT_OF_KIND = {"u": 1, "i": 2, "f": 3}

_COMPRESSION_TAG = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773, "zstd": 50000}


def lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first bit packing, ClearCode=256, EOI=257,
    9→12-bit codes with the TIFF "early change" (width bumps one code early,
    when the next table slot reaches 2^width − 1)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitbuf = bitcnt = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal bitbuf, bitcnt
        bitbuf = (bitbuf << width) | code
        bitcnt += width
        while bitcnt >= 8:
            out.append((bitbuf >> (bitcnt - 8)) & 0xFF)
            bitcnt -= 8
        bitbuf &= (1 << bitcnt) - 1  # keep only unemitted bits (bigint guard)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # early change: the decoder's table trails ours by one entry at the
        # same stream position and bumps at (1<<width)-1, so we bump at
        # (1<<width) — verified against Java ImageIO's TIFF codec both ways
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:  # table nearly full: reset (spec-mandated)
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([byte])
    if w:
        emit(table[w])
    emit(EOI)
    if bitcnt:
        out.append((bitbuf << (8 - bitcnt)) & 0xFF)
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits byte RLE."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append((256 - (run - 1)) & 0xFF)  # -(run-1) two's complement
            out.append(data[i])
            i += run
        else:
            lit = i
            i += 1
            while i < n and (i - lit) < 128 and not (
                i + 1 < n and data[i] == data[i + 1]
            ):
                i += 1
            out.append(i - lit - 1)
            out += data[lit:i]
    return bytes(out)


def _hdiff(chunk: np.ndarray) -> np.ndarray:
    """Horizontal differencing (predictor 2) over (rows, px, samples).

    Modular arithmetic in uint64 (astype wraps two's-complement, subtraction
    wraps mod 2^64), masked down to the sample width — works for ALL widths
    including 64-bit, where an int64 work array would overflow the mask."""
    if chunk.dtype.kind == "f":
        raise ValueError("predictor 2 requires an integer dtype")
    bits = chunk.dtype.itemsize * 8
    wide = chunk.astype(np.uint64)
    wide[:, 1:, :] = wide[:, 1:, :] - wide[:, :-1, :]
    if bits < 64:
        wide &= np.uint64((1 << bits) - 1)
    return wide.astype(chunk.dtype)


def _entries_bytes(tag: int, typ: int, values: list) -> tuple[bytes, bytes | None]:
    """Serialize one IFD entry → (entry head, spill payload or None).

    Inline (≤4-byte) values return a full 12-byte entry and None; larger
    payloads return the 8-byte head (offset appended at patch time) plus
    the payload EXPLICITLY — the old b'OFF?' sentinel inside the value
    slot could collide with a legitimate inline payload equal to those
    bytes (r4 review: e.g. a single LONG strip offset of 0x3F46464F)."""
    count = len(values)
    payload = struct.pack("<" + _TYPE_FMT[typ] * count, *values)
    if len(payload) <= 4:
        return struct.pack("<HHI", tag, typ, count) + payload.ljust(4, b"\x00"), None
    return struct.pack("<HHI", tag, typ, count), payload


def write_tiff(
    path: str,
    array: np.ndarray,
    *,
    tiled: bool = False,
    tile_size: int = 16,
    compression: str = "none",  # "none" | "deflate" | "lzw" | "packbits" | "zstd"
    predictor: int = 1,  # 1 = none, 2 = horizontal differencing
    photometric: int | None = None,
    pixel_scale: tuple[float, float] | None = None,
    tiepoint: tuple[float, ...] | None = None,  # (i, j, k, x, y, z)
    model_transformation: list[float] | None = None,
    palette: bool = False,
    overviews: int = 0,
    compressor=None,  # bytes -> bytes; required for "zstd" when the
    #                   zstandard package is absent (tests pass the JVM's
    #                   zstd-jni — see test_tiff.py zstd interop)
) -> str:
    """Write ``array`` of shape (bands, h, w) or (h, w) as a chunky TIFF.

    Pixel data is stored pixel-interleaved (chunky) like typical COGs.
    ``overviews=k`` appends k additional IFDs holding 2×-decimated pyramid
    levels (the COG overview structure; the reference only ever reads IFD 0
    — src/io/geotiff.rs:46 — our reader exposes every level). Returns
    ``path``.
    """
    if array.ndim == 2:
        array = array[np.newaxis, :, :]

    levels = [array]
    for _ in range(overviews):
        prev = levels[-1]
        if prev.shape[1] < 2 or prev.shape[2] < 2:
            break
        levels.append(np.ascontiguousarray(prev[:, ::2, ::2]))

    sections = []
    base = 8  # after header
    for lvl_idx, lvl in enumerate(levels):
        # overview geo: pixel scale doubles per level, same tiepoint
        ps = None
        if pixel_scale is not None:
            ps = (pixel_scale[0] * (2 ** lvl_idx), pixel_scale[1] * (2 ** lvl_idx))
        blob, rel_ifd, rel_next = _image_section(
            lvl,
            base,
            tiled=tiled,
            tile_size=tile_size,
            compression=compression,
            predictor=predictor,
            photometric=photometric,
            pixel_scale=ps,
            tiepoint=tiepoint,
            model_transformation=model_transformation,
            palette=palette,
            compressor=compressor,
        )
        sections.append({"blob": bytearray(blob), "ifd": base + rel_ifd, "next": rel_next})
        base += len(blob)

    # chain IFDs
    for i in range(len(sections) - 1):
        s = sections[i]
        nxt = sections[i + 1]["ifd"]
        s["blob"][s["next"] : s["next"] + 4] = struct.pack("<I", nxt)

    if hasattr(path, "write"):  # file-like target (e.g. BytesIO): no disk
        path.write(struct.pack("<2sHI", b"II", 42, sections[0]["ifd"]))
        for s in sections:
            path.write(bytes(s["blob"]))
        return path
    # atomic publish (r6 review): fixture regeneration rewrites files that
    # a concurrent session's executors may be mid-read — write the bytes to
    # a uniquely named temp file in the target directory (unique per thread,
    # not just per process) and os.replace so readers only ever see a
    # complete old or complete new file, never a truncated one. A failed
    # write removes its temp file.
    tmp = tempfile.NamedTemporaryFile(
        dir=os.path.dirname(os.path.abspath(path)),
        prefix=f".{os.path.basename(path)}.",
        suffix=".tmp",
        delete=False,
    )
    try:
        with tmp as f:
            f.write(struct.pack("<2sHI", b"II", 42, sections[0]["ifd"]))
            for s in sections:
                f.write(bytes(s["blob"]))
        os.replace(tmp.name, path)
    except BaseException:
        os.unlink(tmp.name)
        raise
    return path


def _image_section(
    array: np.ndarray,
    base: int,
    *,
    tiled: bool,
    tile_size: int,
    compression: str,
    predictor: int,
    photometric: int | None,
    pixel_scale,
    tiepoint,
    model_transformation,
    palette: bool,
    compressor=None,
) -> tuple[bytes, int, int]:
    """Serialize one image (chunks + IFD + spill area) at absolute offset
    ``base``. Returns (blob, ifd_offset_rel, next_ptr_pos_rel)."""
    bands, height, width = array.shape
    dt = array.dtype
    # r5 review: the file header declares 'II' (little-endian) but tobytes()
    # emits the ARRAY's byte order — a big-endian input (e.g. a '>u2' view
    # from a network/interop source) wrote silently byte-swapped samples.
    if dt.byteorder == ">" or (dt.byteorder == "=" and not _LITTLE):
        array = array.astype(dt.newbyteorder("<"))
        dt = array.dtype
    bits = dt.itemsize * 8
    sample_format = _SAMPLE_FORMAT_OF_KIND[dt.kind]

    # chunky interleave: (h, w, bands) row-major
    chunky = np.ascontiguousarray(np.moveaxis(array, 0, -1))

    if photometric is None:
        # RGB for 3-band and RGBA-shaped 4-band (the resize path re-encodes
        # decoded RGBA PNGs); gray/multiband otherwise. r5 review: 4-band
        # used to default to BlackIsZero, which told external readers
        # "grayscale" for what is really RGBA.
        photometric = 3 if palette else (2 if bands in (3, 4) else 1)

    if compression not in _COMPRESSION_TAG:
        raise ValueError(f"unknown compression: {compression}")

    def compress(chunk: np.ndarray) -> bytes:
        if predictor == 2:
            chunk = _hdiff(chunk)
        buf = np.ascontiguousarray(chunk).tobytes()
        if compression == "deflate":
            return zlib.compress(buf, 6)
        if compression == "lzw":
            return lzw_encode(buf)
        if compression == "packbits":
            return packbits_encode(buf)
        if compression == "zstd":
            if compressor is not None:
                return compressor(buf)
            try:  # environment-gated like the reader (same error contract)
                import zstandard  # noqa: PLC0415
            except ImportError as e:
                raise ValueError(
                    "compression 'zstd' requires the 'zstandard' package "
                    "(unavailable in this environment) or an explicit "
                    "compressor= callable"
                ) from e
            return zstandard.ZstdCompressor().compress(buf)
        return buf

    chunks: list[bytes] = []
    if tiled:
        tw = th = tile_size
        for ty in range(0, height, th):
            for tx in range(0, width, tw):
                tile = np.zeros((th, tw, bands), dtype=dt)
                block = chunky[ty : ty + th, tx : tx + tw, :]
                tile[: block.shape[0], : block.shape[1], :] = block
                chunks.append(compress(tile))
    else:
        # ONE definition: the ROWS_PER_STRIP tag below reuses this variable
        # (r4 review: a duplicated expression could silently diverge from
        # the actual strip layout, shifting rows on decode)
        rows_per_strip = max(1, min(height, 8))
        for sy in range(0, height, rows_per_strip):
            chunks.append(compress(chunky[sy : sy + rows_per_strip]))

    # chunk offsets are ABSOLUTE file offsets (TIFF requirement)
    offsets, cursor = [], base
    for c in chunks:
        offsets.append(cursor)
        cursor += len(c)
    ifd_offset = cursor + (cursor % 2)  # word-align IFD (absolute)

    entries: list[tuple[bytes, bytes | None]] = []

    def add(tag, typ, values):
        entries.append(_entries_bytes(tag, typ, list(values)))

    add(IMAGE_WIDTH, _TYPE_LONG, [width])
    add(IMAGE_LENGTH, _TYPE_LONG, [height])
    add(BITS_PER_SAMPLE, _TYPE_SHORT, [bits] * bands)
    add(COMPRESSION, _TYPE_SHORT, [_COMPRESSION_TAG[compression]])
    if predictor != 1:
        add(PREDICTOR, _TYPE_SHORT, [predictor])
    add(PHOTOMETRIC, _TYPE_SHORT, [photometric])
    if tiled:
        add(TILE_WIDTH, _TYPE_SHORT, [tile_size])
        add(TILE_LENGTH, _TYPE_SHORT, [tile_size])
        add(TILE_OFFSETS, _TYPE_LONG, offsets)
        add(TILE_BYTE_COUNTS, _TYPE_LONG, [len(c) for c in chunks])
    else:
        add(STRIP_OFFSETS, _TYPE_LONG, offsets)
        add(ROWS_PER_STRIP, _TYPE_LONG, [rows_per_strip])
        add(STRIP_BYTE_COUNTS, _TYPE_LONG, [len(c) for c in chunks])
    # once, unconditionally (r5 review: previously emitted from both the
    # striped else-branch and a trailing tiled-only if — copy-paste twins
    # a future edit could silently desync; entries are sorted later)
    add(SAMPLES_PER_PIXEL, _TYPE_SHORT, [bands])
    # r5 review: TIFF 6.0 requires ExtraSamples when SamplesPerPixel
    # exceeds the photometric's base count (1 for gray, 3 for RGB) —
    # gray+alpha and RGBA inputs (the live resize path re-encodes decoded
    # RGBA PNGs) previously produced spec-invalid files external readers
    # refuse or misrender. RGB extras = 2 (unassociated alpha, the RGBA
    # shape); gray/multiband extras = 0 (unspecified — scientific bands
    # are not alpha).
    base_samples = 3 if photometric == 2 else 1
    if photometric in (1, 2) and bands > base_samples:
        kind = 2 if photometric == 2 else 0
        add(EXTRA_SAMPLES, _TYPE_SHORT, [kind] * (bands - base_samples))
    add(PLANAR_CONFIG, _TYPE_SHORT, [1])
    if palette:
        cmap = list(range(256)) * 3  # 3*256 SHORT palette
        add(COLOR_MAP, _TYPE_SHORT, cmap)
    add(SAMPLE_FORMAT, _TYPE_SHORT, [sample_format] * bands)
    if pixel_scale is not None:
        add(MODEL_PIXEL_SCALE, _TYPE_DOUBLE, [pixel_scale[0], pixel_scale[1], 0.0])
    if tiepoint is not None:
        add(MODEL_TIEPOINT, _TYPE_DOUBLE, list(tiepoint))
    if model_transformation is not None:
        add(MODEL_TRANSFORMATION, _TYPE_DOUBLE, list(model_transformation))

    # entries must be sorted by tag id per spec
    entries_sorted = sorted(entries, key=lambda e: struct.unpack("<H", e[0][:2])[0])
    ifd_head = struct.pack("<H", len(entries_sorted))
    ifd_tail = struct.pack("<I", 0)  # next-IFD pointer; patched by caller
    # every entry serializes to exactly 12 bytes (8-byte head + 4-byte
    # value/offset slot)
    ifd_body_len = 12 * len(entries_sorted)
    extra_start = ifd_offset + len(ifd_head) + ifd_body_len + len(ifd_tail)

    # append spilled-value offsets (absolute) in entry order of appearance
    patched, extra_cursor, extra_blob = [], extra_start, b""
    for head, payload in entries_sorted:
        if payload is None:
            patched.append(head)  # complete 12-byte inline entry
        else:
            patched.append(head + struct.pack("<I", extra_cursor))
            extra_blob += payload
            extra_cursor += len(payload)

    blob = b"".join(chunks)
    if cursor % 2:
        blob += b"\x00"
    next_ptr_pos_rel = (ifd_offset - base) + len(ifd_head) + ifd_body_len
    blob += ifd_head + b"".join(patched) + ifd_tail + extra_blob
    return blob, ifd_offset - base, next_ptr_pos_rel
