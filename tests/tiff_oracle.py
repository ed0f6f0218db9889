"""Per-layout TIFF assemblies: the references the one chunk-grid assembly
in ``cog3pio_spark/tiff/reader.py::CogReader.to_numpy`` is checked
against in tests/test_tiff_assembly.py.

``tiled_to_numpy`` is the package's former tiled branch with its loop
unchanged: every intersecting tile is decompressed, reshaped, un-predicted
and written into the band-major output with its own ``np.moveaxis``. It
runs at Python call speed (one numpy round per tile).

``striped_to_numpy`` is the package's former two strip branches, unchanged:
a windowed decode joins the intersecting strips, reshapes and crops them; a
full decode joins every strip, reshapes the flat buffer and de-interleaves
it with ``np.moveaxis``. Both live only in the tests.
"""

from __future__ import annotations

import numpy as np

from cog3pio_spark.codec_errors import typed
from cog3pio_spark.tiff import writer as W
from cog3pio_spark.tiff.reader import CogReader, TiffDecodeError


def tiled_to_numpy(
    reader: CogReader, window: tuple[int, int, int, int] | None = None
) -> np.ndarray:
    """Decode a tiled image the per-tile way, with ``CogReader.to_numpy``'s
    error wrapping."""
    return _wrapped(_tiled, reader, window)


def striped_to_numpy(
    reader: CogReader, window: tuple[int, int, int, int] | None = None
) -> np.ndarray:
    """Decode a striped image the former strip-branch way, with
    ``CogReader.to_numpy``'s error wrapping."""
    return _wrapped(_striped, reader, window)


@typed(TiffDecodeError, "Cannot decode TIFF")
def _wrapped(decode, reader, window):
    return decode(reader, window)


def _tiled(self, window):
    t = self.tags
    if window is not None:
        wx0, wy0, wx1, wy1 = window
        wx0, wy0 = max(0, wx0), max(0, wy0)
        wx1, wy1 = min(self.width, wx1), min(self.height, wy1)
        if wx0 >= wx1 or wy0 >= wy1:
            raise TiffDecodeError(f"Empty decode window: {window}")
    tw = int(t[W.TILE_WIDTH][0])
    th = int(t[W.TILE_LENGTH][0])
    offs, counts = t[W.TILE_OFFSETS], t[W.TILE_BYTE_COUNTS]
    tiles_x = (self.width + tw - 1) // tw
    tiles_y = (self.height + th - 1) // th
    if len(offs) < tiles_x * tiles_y or len(counts) < tiles_x * tiles_y:
        raise TiffDecodeError(
            f"Cannot decode TIFF: {tiles_x * tiles_y} tiles expected "
            f"but only {min(len(offs), len(counts))} offset/count "
            f"entries present"
        )
    if self.bands != self.samples:
        raise TiffDecodeError(
            f"failed to convert vector of size "
            f"{self.samples * self.height * self.width} to shape "
            f"[{self.bands}, {self.height}, {self.width}]"
        )
    if window is not None:
        out = np.zeros((self.samples, wy1 - wy0, wx1 - wx0), self.dtype)
    else:
        out = np.zeros((self.samples, self.height, self.width), self.dtype)
    for idx, (off, cnt) in enumerate(zip(offs, counts)):
        ty, tx = divmod(idx, tiles_x)
        y0, x0 = ty * th, tx * tw
        if window is not None and (
            x0 >= wx1 or y0 >= wy1 or x0 + tw <= wx0 or y0 + th <= wy0
        ):
            continue  # tile outside window: never decompressed
        tile_bytes = th * tw * self.samples * self.dtype.itemsize
        tile = np.frombuffer(
            self._chunk(off, cnt, tile_bytes), self._stored_dtype
        ).astype(self.dtype, copy=False)
        tile = self._unpredict(tile.reshape(th, tw, self.samples))
        h = min(th, self.height - y0)
        w = min(tw, self.width - x0)
        if window is None:
            out[:, y0 : y0 + h, x0 : x0 + w] = np.moveaxis(
                tile[:h, :w, :], -1, 0
            )
        else:  # tile ∩ window, written at window-relative offsets
            iy0, iy1 = max(y0, wy0), min(y0 + h, wy1)
            ix0, ix1 = max(x0, wx0), min(x0 + w, wx1)
            out[:, iy0 - wy0 : iy1 - wy0, ix0 - wx0 : ix1 - wx0] = (
                np.moveaxis(
                    tile[iy0 - y0 : iy1 - y0, ix0 - x0 : ix1 - x0, :],
                    -1, 0,
                )
            )
    return out


def _striped(self, window):
    t = self.tags
    if window is not None:
        wx0, wy0, wx1, wy1 = window
        wx0, wy0 = max(0, wx0), max(0, wy0)
        wx1, wy1 = min(self.width, wx1), min(self.height, wy1)
        if wx0 >= wx1 or wy0 >= wy1:
            raise TiffDecodeError(f"Empty decode window: {window}")
    offs, counts = t[W.STRIP_OFFSETS], t[W.STRIP_BYTE_COUNTS]
    rows_per_strip = int(t.get(W.ROWS_PER_STRIP, [self.height])[0])
    if window is not None:
        if self.bands != self.samples:
            raise TiffDecodeError(
                f"failed to convert vector of size "
                f"{self.samples * self.height * self.width} to shape "
                f"[{self.bands}, {self.height}, {self.width}]"
            )
        s_lo = wy0 // rows_per_strip
        s_hi = (wy1 - 1) // rows_per_strip
        strip_bytes = rows_per_strip * self.width * self.samples * self.dtype.itemsize
        raw = b"".join(
            self._chunk(offs[s], counts[s], strip_bytes)
            for s in range(s_lo, s_hi + 1)
        )
        dec = self._unpredict(
            np.frombuffer(raw, self._stored_dtype)
            .astype(self.dtype, copy=False)
            .reshape(
                -1, self.width, self.samples
            )
        )
        crop = dec[wy0 - s_lo * rows_per_strip : wy1 - s_lo * rows_per_strip,
                   wx0:wx1, :]
        if crop.shape[0] != wy1 - wy0 or crop.shape[1] != wx1 - wx0:
            raise TiffDecodeError(
                f"Cannot decode TIFF: window ({wy1 - wy0}, "
                f"{wx1 - wx0}) rows/cols requested but strips "
                f"yielded ({crop.shape[0]}, {crop.shape[1]})"
            )
        return np.ascontiguousarray(np.moveaxis(crop, -1, 0))
    strip_bytes = rows_per_strip * self.width * self.samples * self.dtype.itemsize
    raw = b"".join(self._chunk(o, c, strip_bytes) for o, c in zip(offs, counts))
    flat = np.frombuffer(raw, self._stored_dtype).astype(self.dtype, copy=False)
    if self.predictor == 2:
        flat = self._unpredict(
            flat.reshape(-1, self.width, self.samples)
        ).ravel()
    shape = (self.bands, self.height, self.width)
    if flat.size != shape[0] * shape[1] * shape[2]:
        raise TiffDecodeError(
            f"failed to convert vector of size {flat.size} to shape "
            f"[{shape[0]}, {shape[1]}, {shape[2]}]"
        )
    if self.bands == 1:
        return flat.reshape(shape)
    return np.ascontiguousarray(
        np.moveaxis(flat.reshape(self.height, self.width, self.bands), -1, 0)
    )
