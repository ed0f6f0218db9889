"""zlib inflate with a bound on its output, shared by the TIFF deflate
branch and PNG's IDAT stream: a deflate bomb is refused after inflating
one byte past the bound, before its output is allocated."""

from __future__ import annotations

import zlib


class InflateLimitError(ValueError):
    """The stream inflates to more than the caller's bound."""


def inflate(data: bytes, max_out: int) -> bytes:
    """Inflate a zlib stream of at most ``max_out`` bytes of output. Raises
    :class:`InflateLimitError` past the bound and ``zlib.error`` for a
    corrupt or truncated stream, as ``zlib.decompress`` does."""
    d = zlib.decompressobj()
    out = d.decompress(data, max_out + 1)
    if len(out) > max_out:
        raise InflateLimitError(f"inflates past {max_out} bytes")
    if not d.eof:
        # all of ``data`` inflated to at most max_out bytes without reaching
        # the stream's end: zlib.decompress repeats that bounded work and
        # raises zlib's own truncation error
        zlib.decompress(data)
    return out
