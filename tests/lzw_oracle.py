"""Sequential per-code LZW decoders: the reference the numpy kernel
(``cog3pio_spark/lzw.py``) is checked against in tests/test_lzw_kernel.py.

These are the package's former decoders with their loops unchanged:
``tiff_lzw_decode`` (TIFF 6.0 §13: MSB-first, early change, a leading
ClearCode required, tolerant of a missing EOI) and ``gif_lzw_decode``
(LSB-first, no early change, stops once ``n_pixels`` are produced). They
are slow (a few MB/s) and live only in the tests.
"""

from __future__ import annotations

import numpy as np

from cog3pio_spark.gif import GifDecodeError
from cog3pio_spark.tiff.reader import TiffDecodeError


def tiff_lzw_decode(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] | None = None
    width = 9
    next_code = 258
    prev: bytes | None = None
    bitbuf = bitcnt = 0
    pos, n = 0, len(data)
    while True:
        while bitcnt < width:
            if pos >= n:
                return bytes(out)  # stream ends without EOI: tolerate
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            bitcnt += 8
        code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
        bitcnt -= width
        bitbuf &= (1 << bitcnt) - 1  # drop consumed bits: keep bitbuf small
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            next_code = 258
            width = 9
            prev = None
            continue
        if code == EOI:
            return bytes(out)
        if table is None:
            raise TiffDecodeError("Cannot decode LZW: stream missing ClearCode")
        if code < len(table):
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            raise TiffDecodeError(f"Cannot decode LZW: corrupt code {code}")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry


def gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    clear = 1 << min_code_size
    eoi = clear + 1
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    pos = 0
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None

    def read_code() -> int:
        nonlocal pos
        if pos + width > len(bits):
            return eoi  # truncated stream: stop (caller length-checks)
        chunk = bits[pos : pos + width]
        pos += width
        v = 0
        for i in range(width - 1, -1, -1):
            v = (v << 1) | int(chunk[i])
        return v

    while len(out) < n_pixels:
        code = read_code()
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise GifDecodeError("Cannot decode GIF: bad initial LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise GifDecodeError("Cannot decode GIF: LZW code out of range")
        out.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_pixels:
        raise GifDecodeError(
            f"Cannot decode GIF: expected {n_pixels} pixels, got {len(out)}"
        )
    return np.frombuffer(bytes(out[:n_pixels]), dtype=np.uint8)
