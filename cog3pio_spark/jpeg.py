"""Baseline + progressive JPEG decoder in pure Python/numpy (no codec libs).

Third fully-real in-repo media codec (after the TIFF reader/writer and the
WAV parser): baseline DCT JPEGs (SOF0/SOF1) and progressive JPEGs (SOF2 —
spectral selection + successive approximation, r4: most large web JPEGs are
progressive) decode to (bands, h, w) uint8 tensors. Arithmetic-coded,
lossless and hierarchical streams raise an honest ``unsupported error`` —
never a faked decode. ``header(raw)`` reads the frame header alone (every
SOF kind); it and the decoder share one marker-segment walk and one SOF
table.

There is one scan decoder. A sequential frame's single scan is a first scan
(Ah=0) over the full band Ss=0..Se=63 (ITU-T T.81 §G.1.2), so it runs the
same path as a progressive scan: every scan fills a per-component zigzag
coefficient store, and one vectorized dequantize + IDCT runs after the
last. A scan's component count picks its block order (§A.2.2): several
components interleave in MCU order, one component runs over its own raster
grid.

Correctness is pinned the same way as the TIFF codecs: a second independent
implementation (Java ImageIO via the Spark JVM) encodes fixtures and
provides reference decodes; tests compare per-pixel within a small IDCT
rounding tolerance (libjpeg-family decoders use fixed-point IDCTs with
specific integer rounding; this decoder uses exact float IDCT and a float
triangle-filter chroma upsampler matching libjpeg's "fancy" upsampling —
gray images agree within ±2, smooth color within ±3, and only extreme
chroma wrap edges drift further; the contract is explicit in
tests/test_jpeg.py).

Performance note (honest): Huffman entropy decoding is inherently
bit-serial, implemented here as a per-bit Python loop — a
correctness-first reference decoder suited to metadata/feature extraction
and fixtures, not a throughput path. A production deployment slots a
vectorized/native codec behind the same ``decode_jpeg(bytes) -> ndarray``
contract (the Spark operators only see the contract).
"""

from __future__ import annotations

import itertools
import re
import struct

import numpy as np

from cog3pio_spark.codec_errors import typed


class JpegDecodeError(ValueError):
    """Parse/decode failure with an honest message."""


# SOF marker -> frame kind, the ``detail`` of ``header``; the decoder reads
# the first three (SOF0/1 sequential and SOF2 progressive, Huffman-coded)
_SOF_KINDS = {
    0xC0: "baseline", 0xC1: "extended-sequential", 0xC2: "progressive",
    0xC3: "lossless", 0xC5: "sequential-dht", 0xC6: "progressive-dht",
    0xC7: "lossless-dht", 0xC9: "arithmetic-sequential",
    0xCA: "arithmetic-progressive", 0xCB: "arithmetic-lossless",
    0xCD: "arithmetic-sequential-dht", 0xCE: "arithmetic-progressive-dht",
    0xCF: "arithmetic-lossless-dht",
}

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# orthonormal DCT-II basis: spatial = C.T @ coef @ C
_k = np.arange(8)
_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(2.0 / 8)
_C[0] *= np.sqrt(0.5)


def _build_huffman(counts: list[int], symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman table: {(bit_length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code, si = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[si]
            code += 1
            si += 1
        code <<= 1
    return table


class _BitReader:
    """Sequential MSB-first bit reader over de-stuffed entropy bytes."""

    __slots__ = ("bits", "pos")

    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.bits):
            raise JpegDecodeError("Cannot decode JPEG: entropy data truncated")
        b = int(self.bits[self.pos])
        self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.bits):
            raise JpegDecodeError("Cannot decode JPEG: entropy data truncated")
        chunk = self.bits[self.pos : end]
        self.pos = end
        v = 0
        for b in chunk:
            v = (v << 1) | int(b)
        return v

    def read_huffman(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegDecodeError("Cannot decode JPEG: invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG F.12 EXTEND: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _segments(raw: bytes):
    """The one marker-segment walk (T.81 §B.1.1), from SOI to EOI or the end
    of the data: yields ``(marker, body, entropy)`` per segment. ``entropy``
    is None except after an SOS, where it holds the scan's entropy-coded
    data de-stuffed and split at RSTn markers. The data after an SOS is
    read only when the walk is resumed past it, so a reader that stops at
    the SOF reads no entropy data."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        raise JpegDecodeError("Cannot parse JPEG: missing SOI marker")
    pos = 2
    while pos < len(raw):
        if raw[pos] != 0xFF:
            raise JpegDecodeError("Cannot parse JPEG: marker expected")
        while pos < len(raw) and raw[pos] == 0xFF:
            pos += 1  # fill bytes
        if pos >= len(raw):
            raise JpegDecodeError("Cannot parse JPEG: truncated in marker padding")
        marker = raw[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        if pos + 2 > len(raw):
            raise JpegDecodeError("Cannot parse JPEG: truncated segment")
        (seg_len,) = struct.unpack_from(">H", raw, pos)
        body = raw[pos + 2 : pos + seg_len]
        pos += seg_len
        if marker != 0xDA:
            yield marker, body, None
            continue
        # the scan's data runs to the first 0xFF that is neither a stuffed
        # 0xFF00 nor an RSTn (a 0xFF ending the data counts as a marker)
        end = pos
        while (end := raw.find(b"\xff", end)) >= 0:
            nxt = raw[end + 1] if end + 1 < len(raw) else 0xD9
            if nxt != 0 and not 0xD0 <= nxt <= 0xD7:
                break
            end += 2
        else:
            end = len(raw)
        parts = re.split(rb"\xff[\xd0-\xd7]", raw[pos:end])
        yield marker, body, [p.replace(b"\xff\x00", b"\xff") for p in parts]
        pos = end


def _frame(marker: int, body: bytes) -> dict:
    """One SOF segment → the frame: sample precision, dimensions and the
    component specs (id, sampling factors, quant table). A height or width
    of 0 is refused: T.81 lets height 0 defer to a DNL marker, which the
    decoder does not read."""
    precision, h, w, ncomp = body[0], *struct.unpack_from(">HH", body, 1), body[5]
    if h == 0 or w == 0:
        raise JpegDecodeError(f"Cannot parse JPEG: zero frame dimension ({w}x{h})")
    comps = []
    for c in range(ncomp):
        cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
        comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "tq": tq})
    return {"precision": precision, "h": h, "w": w, "comps": comps,
            "progressive": marker == 0xC2}


@typed(JpegDecodeError, "Cannot parse JPEG")
def header(raw: bytes) -> dict:
    """Frame header → ``{width, height, bands, detail}``: ``bands`` is the
    component count (the bands ``decode_jpeg`` returns), ``detail`` the SOF
    kind — lossless and arithmetic frames included, which the decoder
    refuses. Walks the marker segments to the first SOF and reads nothing
    after it."""
    for marker, body, _ in _segments(raw):
        if marker in _SOF_KINDS:
            frame = _frame(marker, body)
            return {"width": frame["w"], "height": frame["h"],
                    "bands": len(frame["comps"]), "detail": _SOF_KINDS[marker]}
        if marker == 0xDA:
            break
    raise JpegDecodeError("Cannot parse JPEG: missing SOF")


@typed(JpegDecodeError, "Cannot parse JPEG")
def decode_jpeg(raw: bytes) -> np.ndarray:
    """Decode a baseline or progressive JPEG byte stream to a (bands, h, w)
    uint8 tensor (bands = 1 gray, 3 YCbCr→RGB per the JFIF matrix). Every
    failure surfaces as :class:`JpegDecodeError`."""
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    frame = None
    scans: list[dict] = []
    restart_interval = 0
    adobe_transform = None

    for marker, seg, entropy in _segments(raw):
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq:
                    vals = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int32)
                    i += 128
                else:
                    vals = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int32)
                    i += 64
                qtables[tq] = vals
        elif marker in _SOF_KINDS:
            if marker > 0xC2:  # past SOF0/1 sequential and SOF2 progressive
                kind = _SOF_KINDS[marker]
                if kind.endswith("-dht"):
                    kind = f"SOF{marker - 0xC0}"
                elif kind.startswith("arithmetic"):
                    kind = "arithmetic-coded"
                raise JpegDecodeError(
                    f"unsupported error: {kind} JPEG is unsupported "
                    f"(baseline + progressive Huffman only)"
                )
            frame = _frame(marker, seg)
            if frame["precision"] != 8:
                raise JpegDecodeError(
                    f"unsupported error: {frame['precision']}-bit JPEG precision "
                    "is unsupported"
                )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                counts = list(seg[i + 1 : i + 17])
                n = sum(counts)
                symbols = seg[i + 17 : i + 17 + n]
                htables[(tc, th)] = _build_huffman(counts, symbols)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_comps = []
            for c in range(ns):
                cid, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_comps.append({"id": cid, "dc": tda >> 4, "ac": tda & 0x0F})
            # spectral selection + successive approximation (baseline streams
            # carry the fixed 0/63/0/0 here)
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            scans.append(
                {
                    "comps": scan_comps,
                    "segments": entropy,
                    "ss": ss,
                    "se": se,
                    "ah": ahal >> 4,
                    "al": ahal & 0x0F,
                    # snapshot: DHT/DRI/DQT may be redefined between scans;
                    # qtables latch per component at its FIRST scan (r5
                    # review — dequantizing everything with the FINAL
                    # tables retroactively corrupted earlier scans' coefs
                    # on mid-frame DQT redefinition; libjpeg latches at
                    # first use)
                    "htables": dict(htables),
                    "qtables": dict(qtables),
                    "ri": restart_interval,
                }
            )
            if frame is not None and not frame["progressive"]:
                break  # single-scan sequential: decode below
        elif marker == 0xEE:  # APP14 'Adobe': color-transform declaration
            if seg[:5] == b"Adobe" and len(seg) >= 12:
                adobe_transform = seg[11]
        # other segments (APPn, COM) are skipped

    if frame is None or not scans:
        raise JpegDecodeError("Cannot parse JPEG: missing SOF/SOS")
    # r5 review: 3-component frames were ALWAYS YCbCr-converted — an Adobe
    # APP14 transform=0 stream (or JPEG with literal 'R','G','B' component
    # ids) stores RGB directly and was silently garbled by the matrix.
    ids = [c["id"] for c in frame["comps"]]
    frame["rgb_direct"] = adobe_transform == 0 or ids == [0x52, 0x47, 0x42]
    if not frame["progressive"]:
        scans = scans[:1]  # a sequential frame decodes its first scan only
    planes, comps, max_h, max_v = _decode_scans(frame, scans, qtables)
    return _assemble_output(planes, comps, frame, max_h, max_v)


def _check_blocks_vs_entropy(total_blocks: int, entropy_bytes: int) -> None:
    """r5 review: corrupt SOF dimensions (a 25-byte blob claiming
    65535×65535) reached multi-GB plane allocations and escaped the error
    taxonomy as MemoryError. Every coded block costs ≥1 Huffman bit even in
    the sparsest legal stream (progressive DC-first), so blocks > 8×entropy
    bytes is impossible for a decodable frame — refuse before allocating."""
    if total_blocks > 8 * max(1, entropy_bytes):
        raise JpegDecodeError(
            f"Cannot decode JPEG: frame declares {total_blocks} coded blocks "
            f"but carries only {entropy_bytes} entropy bytes (corrupt "
            f"dimensions)"
        )


def _upsample(p: np.ndarray, ry: int, rx: int) -> np.ndarray:
    """Triangle-filter upsampling (libjpeg 'fancy' upsampling): output
    sample centers sit at (i+0.5)/r − 0.5 in input coordinates with
    edge clamp — matches reference decoders far better than nearest
    (measured: RGB mean error 1.95 → well under 1 on smooth chroma)."""
    for axis, r in ((0, ry), (1, rx)):
        if r == 1:
            continue
        n = p.shape[axis]
        pos = (np.arange(n * r) + 0.5) / r - 0.5
        lo = np.clip(np.floor(pos).astype(int), 0, n - 1)
        hi = np.clip(lo + 1, 0, n - 1)
        frac = np.clip(pos - lo, 0.0, 1.0)
        a = np.take(p, lo, axis=axis)
        b = np.take(p, hi, axis=axis)
        shape = [1, 1]
        shape[axis] = -1
        p = a + (b - a) * frac.reshape(shape)
    return p


def _assemble_output(
    planes: dict[int, np.ndarray], comps: list[dict], frame: dict,
    max_h: int, max_v: int,
) -> np.ndarray:
    """Level-shift, upsample subsampled planes, crop, color-convert."""
    h, w = frame["h"], frame["w"]
    out_planes = []
    for c in comps:
        p = planes[c["id"]] + 128.0
        ry, rx = max_v // c["v"], max_h // c["h"]
        if ry > 1 or rx > 1:
            p = _upsample(p, ry, rx)
        out_planes.append(p[:h, :w])

    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)[None, :, :]
    if len(out_planes) != 3:
        raise JpegDecodeError(
            f"unsupported error: {len(out_planes)}-component JPEG is unsupported"
        )
    if frame.get("rgb_direct"):
        # Adobe transform=0 / literal RGB component ids: planes ARE RGB
        return np.clip(np.round(np.stack(out_planes)), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b])
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -- scans: spectral selection + successive approximation --------------------
# Algorithms follow ITU-T T.81 §G.1.2 (and match libjpeg's
# decode_mcu_DC_first/DC_refine/AC_first/AC_refine structure, re-derived from
# the spec): coefficients accumulate across scans in zigzag order; IDCT and
# dequantization happen once, after every scan has contributed. A sequential
# scan is the one-scan case: a DC and AC first scan over the full band.


def _dc_unit(reader, tbl, zz, ah, al, state, cid):
    """One block's DC contribution: first scan decodes the Huffman diff and
    stores pred << Al; refinement scans append one raw bit at position Al."""
    if ah == 0:
        if tbl is None:
            raise JpegDecodeError("Cannot parse JPEG: missing table")
        t = reader.read_huffman(tbl)
        diff = _extend(reader.read_bits(t), t)
        state["pred"][cid] += diff
        zz[0] = state["pred"][cid] << al
    else:
        if reader.read_bit():
            zz[0] |= 1 << al


def _ac_first_unit(reader, tbl, zz, ss, se, al, state):
    """First AC scan of a band (Ah=0): AC decoding restricted to [Ss, Se];
    progressive scans add EOBn run-length codes spanning whole blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    if tbl is None:
        raise JpegDecodeError("Cannot parse JPEG: missing table")
    k = ss
    while k <= se:
        rs = reader.read_huffman(tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            # EOBn: this block ends; (1<<r)+bits−1 further blocks end too.
            # A sequential scan has no EOBn: every r/0 just ends the block.
            if state["eobn"]:
                state["eobrun"] = (1 << r) - 1
                if r:
                    state["eobrun"] += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise JpegDecodeError("Cannot decode JPEG: AC index overflow")
        zz[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine_unit(reader, tbl, zz, ss, se, al, state):
    """AC refinement (Ah>0): one correction bit per already-nonzero
    coefficient in the band; newly-nonzero coefficients arrive as ±1<<Al.
    Zero-run counts (r) skip ZERO-HISTORY positions only — nonzero
    coefficients passed on the way consume correction bits but do not count
    toward the run (T.81 §G.1.2.3)."""
    if tbl is None:
        raise JpegDecodeError("Cannot parse JPEG: missing table")
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = reader.read_huffman(tbl)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                # r=15, s=0: run of 16 zero-history positions, no new coef
            else:
                if s != 1:
                    raise JpegDecodeError(
                        "Cannot decode JPEG: invalid AC refinement code"
                    )
                val = p1 if reader.read_bit() else m1
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit() and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if state["eobrun"] > 0:
        # EOB span: the band still carries correction bits for its
        # already-nonzero coefficients
        while k <= se:
            if zz[k] != 0:
                if reader.read_bit() and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] > 0 else m1
            k += 1
        state["eobrun"] -= 1


def _decode_scan(scan, frame, by_id, coefs, mcus_x, mcus_y, max_h, max_v):
    """Decode one scan into the coefficient store. Each block takes its DC
    (Ss=0), then, in every scan but a DC-only one, its AC band
    [max(Ss,1), Se] — as a first scan (Ah=0) or a refinement."""
    htables, ri = scan["htables"], scan["ri"]
    h, w = frame["h"], frame["w"]
    progressive = frame["progressive"]
    scomps = scan["comps"]
    for sc in scomps:
        if sc["id"] not in by_id:
            raise JpegDecodeError("Cannot parse JPEG: scan component mismatch")
    if progressive:
        ss, se, ah, al = scan["ss"], scan["se"], scan["ah"], scan["al"]
        if ss == 0 and se != 0:
            raise JpegDecodeError(
                "Cannot decode JPEG: progressive DC scan must have Se=0"
            )
        if ss != 0 and len(scomps) != 1:
            raise JpegDecodeError(
                "Cannot decode JPEG: progressive AC scan must be single-component"
            )
    else:
        # a sequential scan is one first scan over the full band (T.81
        # §G.1.2), whatever its Ss/Se/Ah/Al bytes hold, and codes every
        # frame component in frame order
        ss, se, ah, al = 0, 63, 0, 0
        if len(scomps) < len(frame["comps"]):
            # spec-legal but rare: one SOS per component — refuse honestly
            # (r3 review)
            raise JpegDecodeError(
                "unsupported error: non-interleaved JPEG scan is unsupported"
            )
        sel = {sc["id"]: sc for sc in scomps}
        scomps = [sel[c["id"]] for c in frame["comps"]]

    # block layout of one unit: (cid, dc table, ac table, unit→block scale
    # y/x, offset y/x) per coded block
    if len(scomps) > 1:
        # interleaved: MCU order over every scan component's blocks
        grid = (mcus_y, mcus_x)
        layout = [
            (sc["id"], htables.get((0, sc["dc"])), htables.get((1, sc["ac"])),
             c["v"], c["h"], v, hh)
            for sc in scomps
            for c in (by_id[sc["id"]],)
            for v in range(c["v"])
            for hh in range(c["h"])
        ]
    else:
        # one component: its own raster grid (ceil(comp_dim/8)), not MCU
        # order — MCU-padding blocks are not coded (T.81 §A.2.2)
        sc = scomps[0]
        c = by_id[sc["id"]]
        comp_h, comp_w = -(-h * c["v"] // max_v), -(-w * c["h"] // max_h)
        grid = (-(-comp_h // 8), -(-comp_w // 8))
        layout = [
            (sc["id"], htables.get((0, sc["dc"])), htables.get((1, sc["ac"])),
             1, 1, 0, 0)
        ]

    ac_unit = _ac_refine_unit if ah else _ac_first_unit
    seg_iter = iter(scan["segments"])
    reader = _BitReader(next(seg_iter))
    state = {
        "eobrun": 0, "eobn": progressive, "pred": {sc["id"]: 0 for sc in scomps}
    }
    for n, (uy, ux) in enumerate(itertools.product(*map(range, grid))):
        if ri and n and n % ri == 0:
            # RST: a new entropy segment; the EOB run and predictors reset
            try:
                reader = _BitReader(next(seg_iter))
            except StopIteration:
                raise JpegDecodeError(
                    "Cannot decode JPEG: entropy data truncated "
                    "(missing restart segment)"
                ) from None
            state["eobrun"] = 0
            state["pred"] = {sc["id"]: 0 for sc in scomps}
        for cid, dc_t, ac_t, sy, sx, dy, dx in layout:
            zz = coefs[cid][uy * sy + dy, ux * sx + dx]
            if ss == 0:
                _dc_unit(reader, dc_t, zz, ah, al, state, cid)
            if ss or se:  # every scan but a DC-only one carries an AC band
                ac_unit(reader, ac_t, zz, max(ss, 1), se, al, state)


def _decode_scans(frame, scans, qtables):
    """Run every scan into a per-component zigzag coefficient store, then
    dequantize + IDCT all blocks at once (vectorized einsum — the decoder
    pays the bit-serial cost only in entropy decoding)."""
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    max_h = max(c["h"] for c in comps)
    max_v = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    by_id = {c["id"]: c for c in comps}
    _check_blocks_vs_entropy(
        mcus_x * mcus_y * sum(c["h"] * c["v"] for c in comps),
        sum(len(s) for scan in scans for s in scan["segments"]),
    )
    coefs = {
        c["id"]: np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int32)
        for c in comps
    }
    # latch each component's quant table at its FIRST scan (r5 review;
    # libjpeg's latch_quant_tables) — final-state tables only as fallback
    # for components no scan ever referenced (their coefs stay zero)
    latched: dict[int, np.ndarray] = {}
    for scan in scans:
        for sc in scan["comps"]:
            cid = sc["id"]
            if cid not in latched and cid in by_id:
                q0 = scan.get("qtables", {}).get(by_id[cid]["tq"])
                if q0 is not None:
                    latched[cid] = q0
        _decode_scan(scan, frame, by_id, coefs, mcus_x, mcus_y, max_h, max_v)
    planes = {}
    for c in comps:
        q = latched.get(c["id"], qtables.get(c["tq"]))
        if q is None:
            raise JpegDecodeError("Cannot parse JPEG: missing table")
        deq = coefs[c["id"]].astype(np.float64) * q  # zigzag-order dequant
        nat = np.zeros_like(deq)
        nat[..., _ZIGZAG] = deq
        nby, nbx = nat.shape[0], nat.shape[1]
        blocks = nat.reshape(nby, nbx, 8, 8)
        spatial = np.einsum("ab,ijbc,cd->ijad", _C.T, blocks, _C)
        planes[c["id"]] = spatial.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
    return planes, comps, max_h, max_v
