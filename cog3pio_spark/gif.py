"""GIF decoder in pure Python/numpy (fifth real in-repo media codec).

GIF's LZW differs from the TIFF variant (LSB-first bit packing, per-image
variable initial code size, width growth WITHOUT TIFF's early change); both
run on the one numpy kernel in ``cog3pio_spark/lzw.py`` with those three
settings. GIF is lossless for ≤256-color frames, so the interop contract
against Java ImageIO is EXACT per-pixel equality (tests/test_gif.py).

Supported: GIF87a/89a, global and local color tables, interlaced images
(pass reordering), extensions skipped; the FIRST frame of animated GIFs is
decoded and composited onto the logical screen (r5: sub-rectangle first
frames — partial updates — are placed at their descriptor offsets over the
background color instead of being returned mispositioned). ``header(raw)``
reads the logical screen the decoder starts from.

Work is bounded by the header before any pixel is produced: a logical
screen of more than ``MAX_SCREEN_PIXELS`` pixels is refused (the
composited first frame allocates ``3 × width × height`` bytes), and a
frame rectangle must lie inside the screen before its LZW data is
decoded. The limit is PIL's ``Image.MAX_IMAGE_PIXELS`` (about 89.5 M
pixels, a 256 MiB RGB canvas); the format allows 65535 × 65535.
Performance: LZW decodes through the vectorised kernel at 23-43 MB/s on
1 MB streams (4-core x86 VM; figures in ``cog3pio_spark/lzw.py``); the
former per-code loop is the test oracle in tests/lzw_oracle.py.
"""

from __future__ import annotations

import struct

import numpy as np

from cog3pio_spark import lzw
from cog3pio_spark.codec_errors import typed

# largest logical screen decoded (PIL's Image.MAX_IMAGE_PIXELS)
MAX_SCREEN_PIXELS = 1024 * 1024 * 1024 // 4 // 3


class GifDecodeError(ValueError):
    """Parse/decode failure with an honest message."""


def _lzw_decode_gif(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """GIF-variant LZW (LSB-first, no early change, 12-bit max codes) of
    exactly ``n_pixels`` indices. Decoding stops once they are produced;
    the codes after that point are not read."""
    if min_code_size > 8:
        raise GifDecodeError(
            f"Cannot decode GIF: LZW minimum code size {min_code_size} exceeds 8"
        )
    try:
        out = lzw.decode(
            data, lsb_first=True, early_change=False, min_code_size=min_code_size,
            max_out=n_pixels, stop_at_max=True,
        )
    except lzw.CodeError as exc:
        raise GifDecodeError(
            "Cannot decode GIF: bad initial LZW code" if exc.initial
            else "Cannot decode GIF: LZW code out of range"
        ) from None
    if len(out) < n_pixels:
        raise GifDecodeError(
            f"Cannot decode GIF: expected {n_pixels} pixels, got {len(out)}"
        )
    return out[:n_pixels]


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    """GIF 4-pass interlace: rows 0::8, 4::8, 2::4, 1::2."""
    h = idx.shape[0]
    order = np.concatenate(
        [np.arange(0, h, 8), np.arange(4, h, 8), np.arange(2, h, 4), np.arange(1, h, 2)]
    )
    out = np.empty_like(idx)
    out[order] = idx
    return out


def _screen(raw: bytes) -> tuple[int, int, int, int]:
    """Signature + logical screen descriptor → (width, height, packed
    fields, background color index). The length is checked before the
    unpack, so the only error is :class:`GifDecodeError`."""
    if len(raw) < 13 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifDecodeError("Cannot parse GIF: bad signature")
    return struct.unpack_from("<HHBB", raw, 6)


def header(raw: bytes) -> dict:
    """Logical screen → ``{width, height, bands, detail}``: ``bands`` is the
    3 RGB bands ``decode_gif`` returns, ``detail`` the version signature.
    The screen-size refusal is the decoder's, so an oversized screen still
    reports its dimensions here."""
    sw, sh, _, _ = _screen(raw)
    return {"width": sw, "height": sh, "bands": 3, "detail": raw[:6].decode("ascii")}


@typed(GifDecodeError, "Cannot parse GIF")
def decode_gif(raw: bytes) -> np.ndarray:
    """Decode the first frame of a GIF to a (3, h, w) uint8 RGB tensor.

    Every failure surfaces as :class:`GifDecodeError`: truncated headers,
    short color tables and malformed LZW parameters raise struct/numpy
    errors, which the shared corrupt-input boundary wraps."""
    sw, sh, packed, _bg = _screen(raw)
    if sw * sh > MAX_SCREEN_PIXELS:
        raise GifDecodeError(
            f"Cannot decode GIF: logical screen {sw}x{sh} exceeds "
            f"{MAX_SCREEN_PIXELS} pixels"
        )
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(raw[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n

    while pos < len(raw):
        block = raw[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(raw) and raw[pos] != 0:
                pos += 1 + raw[pos]
            pos += 1  # terminator
        elif block == 0x2C:  # image descriptor — decode this (first) frame
            ix, iy, iw, ih, ipacked = struct.unpack_from("<HHHHB", raw, pos)
            pos += 9
            if ix + iw > sw or iy + ih > sh:
                raise GifDecodeError(
                    f"Cannot decode GIF: frame rect ({ix},{iy})+"
                    f"{iw}x{ih} exceeds logical screen {sw}x{sh}"
                )
            ct = gct
            if ipacked & 0x80:  # local color table
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(raw[pos : pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
                pos += 3 * n
            if ct is None:
                raise GifDecodeError("Cannot parse GIF: no color table")
            min_code_size = raw[pos]
            pos += 1
            data = bytearray()
            while pos < len(raw) and raw[pos] != 0:
                ln = raw[pos]
                data.extend(raw[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = _lzw_decode_gif(bytes(data), min_code_size, iw * ih).reshape(ih, iw)
            if ipacked & 0x40:
                idx = _deinterlace(idx)
            if int(idx.max(initial=0)) >= len(ct):
                raise GifDecodeError(
                    f"Cannot decode GIF: color index {int(idx.max())} out of "
                    f"range for {len(ct)}-entry table"
                )
            rgb = ct[idx]  # (h, w, 3)
            # r5 review: the descriptor's offsets were discarded — a first
            # frame covering a sub-rectangle (common when frame 1 is a
            # partial update) came back mispositioned with the wrong
            # dimensions. Composite onto the sw×sh logical screen filled
            # with the background color (GCT[bg]; black without a GCT —
            # there is no on-screen prior for frame 1).
            if (ix, iy, iw, ih) != (0, 0, sw, sh):
                bg_rgb = (
                    gct[_bg] if gct is not None and _bg < len(gct)
                    else np.zeros(3, np.uint8)
                )
                canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
                canvas[iy : iy + ih, ix : ix + iw] = rgb
                rgb = canvas
            return np.moveaxis(rgb, -1, 0).copy()
        elif block == 0x3B:  # trailer
            break
        else:
            raise GifDecodeError(f"Cannot parse GIF: unknown block 0x{block:02x}")
    raise GifDecodeError("Cannot parse GIF: no image data")
