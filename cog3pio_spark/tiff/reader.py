"""Pure-numpy GeoTIFF reader with reference-parity semantics.

Mirrors the behavior cog3pio asserts (citations into /root/reference):

* first IFD only is decoded                      — src/io/geotiff.rs:46
* dtype = SampleFormat × BitsPerSample dispatch  — src/io/geotiff.rs:50-60
* band count from color type: Gray→1, RGB→3,
  Multiband→n, palette → error                   — src/io/geotiff.rs:67-83
* decoded pixels shaped to (band,h,w), with the
  reference's reshape error on a size mismatch   — src/io/geotiff.rs:183-199
  (DELIBERATE divergence: chunky multi-band data IS de-interleaved to
  band-major, where the reference scrambles bands; its multi-band goldens
  are shape/mean only and hold either way, see SURVEY §1.2 and
  CogReader.to_numpy)
* affine from ModelPixelScale + ModelTiepoint, e = -y_scale;
  ModelTransformation present → unsupported      — src/io/geotiff.rs:117-143
* xy_coords: pixel-center, half-open length-n    — src/io/geotiff.rs:155-178
* typed read asserts dtype ("Data type mismatch")— src/io/geotiff.rs:220-224
* path parse errors: "Cannot parse path:", "Cannot find file:"
                                                 — src/python/adapters.rs:147-162
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np

from cog3pio_spark import lzw
from cog3pio_spark.codec_errors import typed
from cog3pio_spark.inflate import InflateLimitError, inflate
from cog3pio_spark.tiff import writer as W


class TiffDecodeError(ValueError):
    """Decode/parse failure with a reference-shaped message."""


def _lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF 6.0 §13 LZW (MSB-first, early change) — inverse of
    writer.lzw_encode; matches the reference's tiff-crate coverage
    (/root/reference/Cargo.toml:49).

    The stream must open with a ClearCode (or be empty/EOI); a missing EOI
    is tolerated. More than ``max_out`` decoded bytes raise before they are
    materialised.

    Throughput (numpy kernel in ``cog3pio_spark/lzw.py``, 4-core x86 VM):
    23-43 MB/s on 1 MB streams; 7.4 ms per 256-px uint8 tile of 2 KB
    strips, 7.4x the former per-code loop. LZW is the COMPATIBILITY path for
    externally-produced COGs — the engine's own fast path is DEFLATE via
    zlib (~127 MB/s single-thread, BENCH); tile parallelism multiplies both
    across tasks."""
    if len(data) >= 2 and (data[0] << 1 | data[1] >> 7) not in (256, 257):
        raise TiffDecodeError("Cannot decode LZW: stream missing ClearCode")
    try:
        out = lzw.decode(
            data, lsb_first=False, early_change=True, min_code_size=8,
            max_out=max_out,
        )
    except lzw.CodeError as exc:
        raise TiffDecodeError(f"Cannot decode LZW: corrupt code {exc.code}") from None
    except lzw.OutputLimitError:
        raise TiffDecodeError(
            f"Cannot decode LZW: chunk decodes to more than {max_out} bytes"
        ) from None
    return out.tobytes()


def _packbits_decode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits byte RLE — inverse of writer.packbits_encode."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:
            out += data[i : i + b + 1]
            i += b + 1
        elif b > 128:
            out += bytes([data[i]]) * (257 - b)
            i += 1
        # 128 = noop
    return bytes(out)


# tiles of at least this many bytes are placed one by one rather than
# joined into a tile-row buffer (see CogReader._tiled)
_JOIN_MAX_BYTES = 64 * 1024


def _place(dst: np.ndarray, tiles: np.ndarray, x: int) -> None:
    """Write ``tiles`` (n, h, tw, samples), side by side, band-major into
    ``dst`` (samples, h, w) with tile 0's first column at ``dst`` column
    ``x``; columns falling outside ``dst`` (x < 0, or past w) are dropped.
    The tiles wholly inside go in one strided copy through a (samples, h,
    n, tw) view of ``dst``; the at most two cut at its edges go one each."""
    n, h, tw, s = tiles.shape
    w = dst.shape[2]
    lo = min(n, max(0, -(x // tw)))  # first tile starting at column >= 0
    hi = max(lo, min(n, (w - x) // tw))  # first tile ending past column w
    if hi > lo:
        a = x + lo * tw
        dst[:, :, a : a + (hi - lo) * tw].reshape(s, h, hi - lo, tw)[...] = (
            tiles[lo:hi].transpose(3, 1, 0, 2)
        )
    for i in (lo - 1, hi):
        a, b = max(0, x + i * tw), min(w, x + (i + 1) * tw)
        if 0 <= i < n and a < b:
            dst[:, :, a:b] = tiles[i, :, a - x - i * tw : b - x - i * tw].transpose(2, 0, 1)


_DTYPES = {
    # (sample_format, bits) -> numpy dtype; mirrors src/io/geotiff.rs:50-60
    (1, 8): np.uint8,
    (1, 16): np.uint16,
    (1, 32): np.uint32,
    (1, 64): np.uint64,
    (2, 8): np.int8,
    (2, 16): np.int16,
    (2, 32): np.int32,
    (2, 64): np.int64,
    (3, 16): np.float16,
    (3, 32): np.float32,
    (3, 64): np.float64,
}


@dataclass
class AffineTransform:
    """Row-major 6-coefficient affine [a b c; d e f] (src/traits.rs:11-43)."""

    a: float
    b: float
    c: float
    d: float
    e: float
    f: float

    def as_tuple(self) -> tuple[float, float, float, float, float, float]:
        return (self.a, self.b, self.c, self.d, self.e, self.f)


class RangeCache:
    """Block-cached random access over a range fetcher — the engine's
    range-read extension. The REFERENCE deliberately fetches the whole
    object (src/python/adapters.rs:158-168, no HTTP range reads — SURVEY
    §4.1 "negative result"); a 100 TB pipeline decoding windows/overviews
    wants the opposite: fetch the header + exactly the tile byte ranges the
    decode touches. Small (header/IFD) reads round up to ``block_size`` and
    are cached; reads ≥ ``block_size`` (pixel chunks) bypass the cache and
    fetch their exact range. ``ranges``/``bytes_fetched`` expose telemetry
    for tests and metrics."""

    def __init__(self, fetch_range, block_size: int = 64 * 1024):
        self._fetch = fetch_range
        self.block_size = block_size
        self._blocks: dict[int, bytes] = {}
        self.ranges = 0
        self.bytes_fetched = 0

    def read(self, off: int, n: int) -> bytes:
        if n >= self.block_size:
            out = self._fetch(off, n)
            self.ranges += 1
            self.bytes_fetched += len(out)
            return out
        bs = self.block_size
        b0, b1 = off // bs, (off + max(n, 1) - 1) // bs
        parts = []
        for b in range(b0, b1 + 1):
            blk = self._blocks.get(b)
            if blk is None:
                blk = self._fetch(b * bs, bs)
                self.ranges += 1
                self.bytes_fetched += len(blk)
                self._blocks[b] = blk
            parts.append(blk)
        joined = parts[0] if len(parts) == 1 else b"".join(parts)
        start = off - b0 * bs
        return joined[start : start + n]


def file_range_fetcher(path: str):
    """Range fetcher over a local file (seek+read) for CogReader.from_fetcher.
    Cloud deployments plug an HTTP Range / object-store ranged-GET callable
    with the same (offset, length) -> bytes signature. Path normalization
    and error taxonomy are EXACTLY the whole-object fetcher's (_local_path),
    so a ref resolves identically on both paths."""
    local = _local_path(path)

    def fetch(off: int, n: int) -> bytes:
        with open(local, "rb") as f:
            # read() allocates its full length up front: a tag declaring
            # 2^28 values would allocate 1 GiB to read a few hundred bytes
            f.seek(off)
            return f.read(max(0, min(n, os.fstat(f.fileno()).st_size - off)))

    return fetch


def http_range_fetcher(url: str, max_cached_body: int = 256 * 1024 * 1024):
    """Range fetcher over HTTP(S) for CogReader.from_fetcher — the ranged
    GET the reference never issues (adapters.rs:158-168 fetches whole
    objects). Each ``(offset, length)`` read becomes a
    ``Range: bytes=off-end`` request; a server that ignores Range (200
    instead of 206) degrades gracefully by slicing the full body, so the
    decode stays correct — just without the IO savings. Error taxonomy
    matches ``_fetch_http`` ("Cannot fetch url: ..."). Verified offline
    against an in-process Range-aware HTTP server
    (tests/test_window.py::test_http_range_fetcher_*); no external network
    is required or assumed.

    ``max_cached_body`` (ADVICE r4): the 200-fallback holds the whole
    response in worker memory for the fetcher's lifetime; a Range-ignoring
    server serving a multi-GB object would pin it all. Bodies past the cap
    error loudly (typed, with the fix — a Range-capable server — named)
    instead of silently exhausting executor memory."""
    import urllib.error
    import urllib.request

    full_body: list = []  # filled on the first 200 (Range-ignoring server)

    def fetch(off: int, n: int) -> bytes:
        if full_body:
            return full_body[0][off : off + n]
        req = urllib.request.Request(
            url, headers={"Range": f"bytes={off}-{off + n - 1}"}
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
                body = resp.read()
                if resp.status == 206:
                    return body
                # Range ignored (200 + full object): cache the body so a
                # windowed decode's MANY fetches cost ONE download, not one
                # re-download per range (r4 review — otherwise strictly
                # worse than the whole-object path this fetcher replaces)
                if len(body) > max_cached_body:
                    raise TiffDecodeError(
                        f"Cannot fetch url: {url} (server ignores Range "
                        f"requests and the full object ({len(body)} bytes) "
                        f"exceeds the {max_cached_body}-byte body-cache cap; "
                        f"use a Range-capable server or raise "
                        f"max_cached_body)"
                    )
                full_body.append(body)
                return body[off : off + n]
        except urllib.error.URLError as exc:
            raise TiffDecodeError(
                f"Cannot fetch url: {url} ({getattr(exc, 'reason', exc)})"
            ) from exc

    return fetch


@typed(TiffDecodeError, "Cannot parse TIFF")
def _read_ifds(rd) -> tuple[list[dict[int, list]], str]:
    """Parse the full IFD chain (image 0 = full resolution, 1.. = overviews)
    through a ``rd(offset, length) -> bytes`` accessor, so the same walk
    works over an in-memory buffer or a range fetcher (header-only IO).

    Both byte orders are supported (``II`` little / ``MM`` big — the
    reference's tiff-crate backend reads both). Returns (ifds, byte_order)
    where byte_order is the struct prefix "<" or ">".

    The reference stops at image 0 (src/io/geotiff.rs:46); parsing the chain
    is the engine's overview extension (north_star) — selection happens in
    CogReader(image_index=...).
    """
    head = rd(0, 8)
    if len(head) < 8 or head[:2] not in (b"II", b"MM"):
        raise TiffDecodeError("Cannot parse TIFF header: bad byte-order mark")
    bo = "<" if head[:2] == b"II" else ">"
    magic, ifd_offset = struct.unpack_from(bo + "HI", head, 2)
    if magic != 42:
        raise TiffDecodeError(f"Cannot parse TIFF header: bad magic {magic}")
    ifds: list[dict[int, list]] = []
    while ifd_offset != 0 and len(ifds) < 32:  # 32 = runaway-chain guard
        tags: dict[int, list] = {}
        (n_entries,) = struct.unpack(bo + "H", rd(ifd_offset, 2))
        # one read covers every 12-byte entry plus the next-IFD pointer
        entries = rd(ifd_offset + 2, n_entries * 12 + 4)
        for i in range(n_entries):
            pos = i * 12
            tag, typ, count = struct.unpack_from(bo + "HHI", entries, pos)
            size = W._TYPE_SIZES.get(typ)
            if size is None:  # unknown entry type: skip
                continue
            total = size * count
            if total <= 4:
                payload = entries[pos + 8 : pos + 8 + total]
            else:
                (off,) = struct.unpack_from(bo + "I", entries, pos + 8)
                payload = rd(off, total)
            # checked before any format is built, so work is sized by the
            # bytes present, never by the declared count
            if len(payload) < total:
                raise TiffDecodeError(
                    f"Cannot parse TIFF: truncated or corrupt (tag {tag} "
                    f"declares {count} values, {len(payload)} of {total} "
                    f"bytes present)"
                )
            fmt = f"{bo}{count}{W._TYPE_FMT[typ]}"
            tags[tag] = list(struct.unpack(fmt, payload))
        ifds.append(tags)
        (ifd_offset,) = struct.unpack_from(bo + "I", entries, n_entries * 12)
    if not ifds:
        raise TiffDecodeError("Cannot parse TIFF: no IFDs")
    return ifds, bo


class CogReader:
    """Decode the first IFD of a (Geo)TIFF byte buffer into a numpy tensor.

    Engine analogue of the reference's ``CogReader`` (pyo3 class,
    src/python/adapters.rs:50-137). Construction parses tags only; pixel
    decode is deferred until :meth:`to_numpy` — same laziness as the
    reference's ``__dlpack__`` path.
    """

    def __init__(self, data, image_index: int = 0):
        """``image_index=0`` is the reference-parity full-resolution decode;
        indices 1.. select COG overview levels (engine extension). ``data``
        is a bytes-like whole object, or any object exposing
        ``read(offset, length) -> bytes`` (e.g. :class:`RangeCache`) for
        range-read access — prefer :meth:`from_fetcher` for the latter."""
        if isinstance(data, (bytes, bytearray, memoryview)):
            self._read = lambda off, n: bytes(data[off : off + n])
        else:
            self._read = data.read
        self.ifds, self.byte_order = _read_ifds(self._read)
        self._bind_image(image_index)

    def select_image(self, image_index: int) -> "CogReader":
        """Same underlying source, different IFD — reuses the already-parsed
        chain (no re-read: on the range path a second construction would
        refetch every >block-size tag payload from remote storage, r3
        review finding)."""
        r = object.__new__(CogReader)
        r._read = self._read
        r.ifds = self.ifds
        r.byte_order = self.byte_order
        if hasattr(self, "range_cache"):
            r.range_cache = self.range_cache
        r._bind_image(image_index)
        return r

    @typed(TiffDecodeError, "Cannot parse TIFF")
    def _bind_image(self, image_index: int) -> None:
        # both bounds: a negative index would silently bind the DEEPEST
        # pyramid level via Python list indexing (r4 review: overview=-1
        # returned ok rows at the wrong resolution)
        if image_index < 0 or image_index >= len(self.ifds):
            raise TiffDecodeError(
                f"Image index {image_index} out of range: file has "
                f"{len(self.ifds)} image(s)"
            )
        self.image_index = image_index
        self.num_images = len(self.ifds)
        self.tags = self.ifds[image_index]
        t = self.tags
        if W.IMAGE_WIDTH not in t or W.IMAGE_LENGTH not in t:
            raise TiffDecodeError("Cannot parse TIFF: missing dimensions")
        self.width = int(t[W.IMAGE_WIDTH][0])
        self.height = int(t[W.IMAGE_LENGTH][0])
        self.samples = int(t.get(W.SAMPLES_PER_PIXEL, [1])[0])
        self.photometric = int(t.get(W.PHOTOMETRIC, [1])[0])
        bits_list = t.get(W.BITS_PER_SAMPLE, [8])
        self.bits = int(bits_list[0])
        fmt_list = t.get(W.SAMPLE_FORMAT, [1])
        self.sample_format = int(fmt_list[0])
        self.compression = int(t.get(W.COMPRESSION, [1])[0])
        self.predictor = int(t.get(W.PREDICTOR, [1])[0])
        if self.predictor not in (1, 2):
            raise TiffDecodeError(
                f"unsupported error: predictor {self.predictor} is unsupported"
            )
        # PlanarConfiguration 2 (band-sequential — legal, produced by
        # libtiff/GDAL) would decode SCRAMBLED through the chunky-only
        # reshape (r4 review: status='ok' rows with wrong pixels, the one
        # thing the error channel exists to prevent) — refuse loudly
        planar = int(t.get(W.PLANAR_CONFIG, [1])[0])
        if planar != 1:
            raise TiffDecodeError(
                f"unsupported error: planar configuration {planar} is "
                f"unsupported (chunky/interleaved only)"
            )

        # Band count from color type — src/io/geotiff.rs:67-83
        if self.photometric == 3:
            raise TiffDecodeError(
                "unsupported error: Photometric interpretation RGBPalette "
                f"with bits per sample {bits_list} is unsupported"
            )
        # RGB ⇒ 3 (src/io/geotiff.rs:67-83), extended r5: RGB with declared
        # extra samples (RGBA, SamplesPerPixel=4) keeps every sample — the
        # old hard 3 truncated bands while the reshape consumed 4-sample
        # rows, scrambling pixels
        self.bands = self.samples if self.photometric != 2 else max(3, self.samples)

        key = (self.sample_format, self.bits)
        if key not in _DTYPES:
            raise TiffDecodeError(
                f"unsupported error: sample format [Unknown({self.sample_format})] "
                "is unsupported"
            )
        self.dtype = np.dtype(_DTYPES[key])
        # stored-sample dtype honors the file's byte order; decode output is
        # always converted to native order (engine tensors are native)
        self._stored_dtype = (
            self.dtype.newbyteorder(">") if self.byte_order == ">" else self.dtype
        )

    @classmethod
    def from_fetcher(
        cls, fetch_range, image_index: int = 0, block_size: int = 64 * 1024
    ):
        """Open a COG through an ``(offset, length) -> bytes`` range fetcher
        WITHOUT fetching the whole object — the true cloud-optimized read
        path the reference lacks (it GETs the entire file,
        src/python/adapters.rs:158-168). Construction reads only the
        header/IFD blocks; :meth:`to_numpy(window=...)` then fetches exactly
        the intersecting tile ranges. The reader's ``range_cache`` exposes
        ``ranges``/``bytes_fetched`` telemetry."""
        cache = RangeCache(fetch_range, block_size=block_size)
        r = cls(cache, image_index=image_index)
        r.range_cache = cache
        return r

    # -- pixel decode ------------------------------------------------------
    def _chunk(self, off: int, n: int, out_size: int) -> bytes:
        """Decompress one tile or strip. ``out_size`` is the chunk's exact
        decoded byte count from the grid (rows × width × samples × itemsize;
        a final strip holds only the image's remaining rows) — required so
        ZSTD frames without an embedded content size don't make the
        decompressor pre-allocate a worst-case buffer per chunk, and the
        bound that stops a deflate or LZW bomb before its output is
        allocated. The caller checks the result's length against it."""
        raw = self._read(off, n)
        if self.compression == 8:
            try:
                return inflate(raw, out_size)
            except InflateLimitError:
                raise TiffDecodeError(
                    f"Cannot decode TIFF: deflate chunk inflates past {out_size} bytes"
                ) from None
        if self.compression == 5:
            return _lzw_decode(raw, out_size)
        if self.compression == 32773:
            return _packbits_decode(raw)
        if self.compression == 1:
            return raw
        if self.compression == 50000:
            # ZSTD (GDAL/COG tag 50000). Environment-gated like the Iceberg
            # runtime (VERDICT r2 missing #3): no zstd implementation exists
            # in this sandbox's Python (no `zstandard`, stdlib is 3.11) and
            # hand-rolling the format is out of scope by design — the gated
            # import keeps the path honest and live the moment the package
            # appears. Interop fixture (written via the JVM's zstd-jni)
            # pins both branches in tests/test_tiff.py::test_zstd_*.
            try:
                import zstandard  # noqa: PLC0415
            except ImportError as e:
                raise TiffDecodeError(
                    "unsupported error: compression 50000 (ZSTD) requires "
                    "the 'zstandard' package, which is unavailable in this "
                    "environment"
                ) from e
            return zstandard.ZstdDecompressor().decompress(
                raw, max_output_size=out_size or (1 << 26)
            )
        raise TiffDecodeError(
            f"unsupported error: compression {self.compression} is unsupported"
        )

    def _unpredict(self, chunk: np.ndarray) -> np.ndarray:
        """Undo horizontal differencing (predictor 2) on (..., rows, px,
        samples): a strip block, or a batch of tiles.

        uint64 modular cumsum (wraps mod 2^64) masked to the sample width —
        valid for all widths including 64-bit samples."""
        if self.predictor != 2:
            return chunk
        if chunk.dtype.kind == "f":
            raise TiffDecodeError(
                "unsupported error: predictor 2 with float samples is unsupported"
            )
        bits = chunk.dtype.itemsize * 8
        wide = np.cumsum(chunk.astype(np.uint64), axis=-2, dtype=np.uint64)
        if bits < 64:
            wide &= np.uint64((1 << bits) - 1)
        return wide.astype(chunk.dtype)

    def _tiled(self, offs, counts, tw: int, th: int, grid_h: int, window) -> np.ndarray:
        """Decode the chunks that ``window=(x0, y0, x1, y1)`` (clipped,
        non-empty) intersects into a (samples, y1-y0, x1-x0) tensor. The
        chunks are a row-major grid of ``tw``-wide, ``th``-row cells over
        ``grid_h`` rows: a tiled image pads its last tile row to ``th``
        (``grid_h`` a multiple of ``th``); a striped image is a one-column
        grid of ``width``-wide strips whose last strip holds only the rows
        left (``grid_h`` = height).

        A batch of chunks is decompressed, joined, viewed as one (chunks,
        rows, tw, samples) array, un-predicted and written band-major by
        ``_place`` — a fixed number of numpy calls per batch instead of one
        round per chunk, whose Python overhead was a quarter of the decode
        of a 256-px image cut into 16-px tiles. A batch is the window's
        part of one chunk row; where the window spans a single chunk column
        (every striped decode), it is instead as many consecutive chunk
        rows as fit in ``_JOIN_MAX_BYTES``, which join into one taller
        chunk for free.

        The join copies the batch once; chunks of ``_JOIN_MAX_BYTES`` or
        more skip it and are placed one at a time straight from their
        buffer, where a chunk's own bytes dwarf the per-call overhead
        (one process, min of 3, 4-core x86 VM; per-tile is the former
        one-tile-at-a-time loop):

        ==================================  ========  ========
        image, tiles, compression           per-tile  tile-row
        ==================================  ========  ========
        4096² float32, 16-px, raw           0.516 s   0.074 s
        6144² ×3 uint16, 256-px, raw        0.248 s   0.186 s
        8192² uint8, 256-px, raw            0.052 s   0.039 s
        4096² ×3 uint16, 256-px, deflate    0.606 s   0.608 s
        4096² ×3 uint16, 512-px, deflate    0.577 s   0.591 s
        8192² uint8, 256-px, deflate        0.634 s   0.614 s
        8192² uint8, 512-px, deflate        0.638 s   0.595 s
        ==================================  ========  ========

        Joining tiles of 64 KiB to 1.5 MiB still paid off for raw ones but
        cost 2-14% on deflate ones, whose joined rows no longer fit in
        cache; below 64 KiB (1-32 KiB tiles, raw and deflate) the join won
        in every case measured.

        Every chunk must decode to exactly its cell's bytes (short, long
        or missing chunks raise, with the reference's reshape message);
        chunks outside the window are never decompressed, and the output
        is allocated only after the first batch has decoded.
        """
        wx0, wy0, wx1, wy1 = window
        row_bytes = tw * self.samples * self.dtype.itemsize
        tiles_x = (self.width + tw - 1) // tw
        tx0, tx1 = wx0 // tw, (wx1 - 1) // tw + 1
        ty1 = (wy1 - 1) // th + 1
        per = down = 1  # chunk columns, chunk rows per batch
        if th * row_bytes < _JOIN_MAX_BYTES:
            if tx1 - tx0 > 1:
                per = tx1 - tx0
            else:
                down = _JOIN_MAX_BYTES // (th * row_bytes)
        out = None
        for ty in range(wy0 // th, ty1, down):
            rows = range(ty, min(ty1, ty + down))
            y0, y1 = ty * th, min(grid_h, rows[-1] * th + th)
            ya, yb = max(wy0, y0), min(wy1, y1)
            for bx in range(tx0, tx1, per):
                n = min(per, tx1 - bx)
                chunks = []
                for r in rows:
                    want = (min(grid_h, r * th + th) - r * th) * row_bytes
                    for i in range(r * tiles_x + bx, r * tiles_x + bx + n):
                        c = self._chunk(offs[i], counts[i], want)
                        if len(c) != want:
                            raise TiffDecodeError(
                                f"failed to convert vector of size "
                                f"{len(c) // self.dtype.itemsize} to shape "
                                f"[{self.samples}, {want // row_bytes}, {tw}] "
                                f"(chunk {i} holds {len(c)} of {want} bytes)"
                            )
                        chunks.append(c)
                cells = (
                    np.frombuffer(chunks[0] if len(chunks) == 1 else b"".join(chunks),
                                  self._stored_dtype)
                    .astype(self.dtype, copy=False)
                    .reshape(n, y1 - y0, tw, self.samples)
                )
                cells = self._unpredict(cells[:, ya - y0 : yb - y0])
                if out is None:
                    # allocated once real chunks back the header's geometry:
                    # a corrupt SamplesPerPixel on a small file raises above
                    # instead of reserving samples × h × w first. Every
                    # output pixel lies in exactly one decoded chunk.
                    out = np.empty((self.samples, wy1 - wy0, wx1 - wx0), self.dtype)
                _place(out[:, ya - wy0 : yb - wy0], cells, bx * tw - wx0)
        return out

    @typed(TiffDecodeError, "Cannot decode TIFF")
    def to_numpy(self, window: tuple[int, int, int, int] | None = None) -> np.ndarray:
        """Decode the selected IFD → (band, h, w) tensor.

        ``window=(x0, y0, x1, y1)`` (pixel coords, half-open) crops the
        decode: only the intersecting tiles or strips are decompressed
        (true COG partial decode — the reference always decodes the full
        image, src/io/geotiff.rs:39-64; this is the north_star window
        extension). Tiles and strips are one chunk grid, assembled by
        :meth:`_tiled`; a chunk that does not decode to exactly its cell
        raises the reference-shaped reshape message
        (src/io/geotiff.rs:336-339).

        DELIBERATE divergence from the reference: chunky multi-band data
        is de-interleaved to band-major. The reference reshapes the flat
        buffer directly (src/io/geotiff.rs:48), which scrambles bands; it
        only ever asserts multi-band SHAPE and order-insensitive MEAN
        (src/io/geotiff.rs:283-297 — SURVEY §1.2), both of which are
        preserved here, while per-band statistics become true per-band.

        Crash classes from corrupt chunk tables or streams surface as
        :class:`TiffDecodeError` (the shared boundary of
        ``cog3pio_spark/codec_errors.py``).
        """
        t = self.tags
        if window is None:
            if self.width * self.height == 0:  # no chunk to decode
                return np.empty((self.bands, self.height, self.width), self.dtype)
            window = (0, 0, self.width, self.height)
        wx0, wy0, wx1, wy1 = window
        wx0, wy0 = max(0, wx0), max(0, wy0)
        wx1, wy1 = min(self.width, wx1), min(self.height, wy1)
        if wx0 >= wx1 or wy0 >= wy1:
            raise TiffDecodeError(f"Empty decode window: {window}")
        if W.TILE_OFFSETS in t:
            tw, th = int(t[W.TILE_WIDTH][0]), int(t[W.TILE_LENGTH][0])
            offs, counts, unit = t[W.TILE_OFFSETS], t[W.TILE_BYTE_COUNTS], "tiles"
            grid_h = (self.height + th - 1) // th * th
        else:  # strips: a one-column grid whose last strip is not padded
            tw, grid_h = self.width, self.height
            th = min(self.height, int(t.get(W.ROWS_PER_STRIP, [self.height])[0]))
            offs, counts, unit = t[W.STRIP_OFFSETS], t[W.STRIP_BYTE_COUNTS], "strips"
        n = (self.width + tw - 1) // tw * ((self.height + th - 1) // th)
        # completeness check (r5 review): a corrupt tag count shorter than
        # the grid would leave the tail chunks as silent zeros in a
        # status='ok' result
        if len(offs) < n or len(counts) < n:
            raise TiffDecodeError(
                f"Cannot decode TIFF: {n} {unit} expected but only "
                f"{min(len(offs), len(counts))} offset/count entries present"
            )
        if self.bands != self.samples:  # corrupt band/sample mismatch
            raise TiffDecodeError(
                f"failed to convert vector of size "
                f"{self.samples * self.height * self.width} to shape "
                f"[{self.bands}, {self.height}, {self.width}]"
            )
        return self._tiled(offs, counts, tw, th, grid_h, (wx0, wy0, wx1, wy1))

    # -- georeferencing ----------------------------------------------------
    @typed(TiffDecodeError, "Cannot parse TIFF")
    def transform(self) -> AffineTransform:
        """Affine from ModelPixelScale + ModelTiepoint (src/io/geotiff.rs:117-143);
        short geo tags raise :class:`TiffDecodeError`."""
        t = self.tags
        if W.MODEL_TRANSFORMATION in t:
            raise TiffDecodeError(
                "unsupported error: GeoTIFFs with rotations or shears "
                "(ModelTransformationTag) are not supported"
            )
        if W.MODEL_PIXEL_SCALE not in t or W.MODEL_TIEPOINT not in t:
            raise TiffDecodeError("Cannot find geo-referencing tags")
        sx, sy = float(t[W.MODEL_PIXEL_SCALE][0]), float(t[W.MODEL_PIXEL_SCALE][1])
        ti, tj, _tk, x, y, _z = (float(v) for v in t[W.MODEL_TIEPOINT][:6])
        # y_scale negated: north-up rasters store rows top-down
        return AffineTransform(sx, 0.0, x - ti * sx, 0.0, -sy, y + tj * sy)

    def xy_coords(self) -> tuple[np.ndarray, np.ndarray]:
        """Pixel-center coordinate axes, half-open (src/io/geotiff.rs:155-178).

        Golden contract: np.linspace(origin+res/2, origin+res/2+res*n, n,
        endpoint=False) — python/tests/test_io_geotiff.py:141-169.
        """
        tr = self.transform()
        x0 = tr.c + tr.a / 2.0
        y0 = tr.f + tr.e / 2.0
        x = np.linspace(x0, x0 + tr.a * self.width, self.width, endpoint=False)
        y = np.linspace(y0, y0 + tr.e * self.height, self.height, endpoint=False)
        return x, y


def _local_path(path: str) -> str:
    """file:// URL → local path with the reference's error taxonomy
    ("Cannot parse path:" / "Cannot find file:", adapters.rs:147-162).
    Shared by the whole-object and range fetchers so the two paths can
    never disagree on which refs resolve (r3 review finding)."""
    if "://" in path:
        path = "/" + path.split("://", 1)[1].lstrip("/")
    if path.startswith("\\") or "\x00" in path:
        raise TiffDecodeError(f"Cannot parse path: {path}")
    if not os.path.exists(path):
        raise FileNotFoundError(f"Cannot find file: {path}")
    return path


def _fetch_file(path: str) -> bytes:
    with open(_local_path(path), "rb") as f:
        return f.read()


def _fetch_http(url: str) -> bytes:
    """Whole-object GET, mirroring the reference's object_store fetch
    (src/python/adapters.rs:158-168 — full body, no range reads). The
    sandbox has no network; the plumbing is real and errors surface on the
    decode error channel."""
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
            return resp.read()
    except urllib.error.URLError as exc:
        raise TiffDecodeError(f"Cannot fetch url: {url} ({exc.reason})") from exc


# scheme → whole-object fetcher (R1 parity). A constant: executors import
# their own copy of this module, so a driver-side mutation would never reach
# them; per-call schemes ride operators/decode.py's ``fetchers=`` instead.
_FETCHERS = {
    "file": _fetch_file,
    "http": _fetch_http,
    "https": _fetch_http,
}


def _path_to_bytes(path: str) -> bytes:
    """Resolve a media_ref to bytes (reference: whole-object GET, no range
    reads — src/python/adapters.rs:158-168). Scheme-dispatched through
    ``_FETCHERS``; error taxonomy mirrors adapters.rs:147-162
    ("Cannot parse url:" for unknown schemes, "Cannot find file:" for
    missing local paths)."""
    if "://" in path:
        scheme = path.split("://", 1)[0]
        fetch = _FETCHERS.get(scheme)
        if fetch is None:
            raise TiffDecodeError(f"Cannot parse url: {path}")
        return fetch(path)
    return _fetch_file(path)


def read_geotiff(path: str, dtype: str | None = "float32") -> np.ndarray:
    """Typed convenience decode (reference read_geotiff, adapters.rs:199-211).

    ``dtype=None`` accepts whatever the file contains; otherwise mismatch
    raises "Data type mismatch" (src/io/geotiff.rs:220-224).
    """
    reader = CogReader(_path_to_bytes(path))
    if dtype is not None and reader.dtype != np.dtype(dtype):
        raise TiffDecodeError(
            f"Data type mismatch: expected {dtype}, got {reader.dtype.name}"
        )
    return reader.to_numpy()
