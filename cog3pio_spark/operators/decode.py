"""COG decode as a vectorized Arrow stage (reference R1-R8 re-expressed).

Pipeline position (SURVEY §3.4): ``decode_tiles`` is the standalone decode
stage over distinct refs; the flagship tile path calls ``_decode_one``
inside the fused kernel (operators/tile_kernel.py). Decoding runs once
per *distinct* object no matter how many spans reference it (the Zipfian skew
makes this dedupe essential at scale: the hottest ref appears in ~18% of
media spans).

Scale notes:
* one Arrow batch of refs per task; each ref decodes with numpy kernels
  (cog3pio_spark.tiff.reader) — per-object granularity, zero per-row Python
  (the unit of work is a whole image, exactly like the reference's per-file
  decode, src/io/geotiff.rs:39-64);
* ``repartition(n)`` before the decode spreads hot partitions; at 100 TB the
  distinct-ref count (~10^7) dwarfs cores, so partition balance is statistical;
* pixel payloads are NOT carried downstream by default — per-band stats,
  shape, dtype, affine, and checksum travel as typed columns; setting
  ``include_pixels=True`` adds a BinaryType blob (for golden tests).

Error taxonomy mirrors the reference (status='error' rows, not job failure):
"Cannot parse path:" / "Cannot parse url:" / "Cannot find file:"
(src/python/adapters.rs:147-162), unsupported colortype/dtype
(src/io/geotiff.rs:67-83), reshape mismatch (:336-339).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("error_msg", T.StringType(), True),
        T.StructField("dtype", T.StringType(), True),
        T.StructField("bands", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("mean", T.DoubleType(), True),
        T.StructField("band_means", T.ArrayType(T.DoubleType()), True),
        T.StructField("px_min", T.DoubleType(), True),
        T.StructField("px_max", T.DoubleType(), True),
        T.StructField("pixel_sha256", T.StringType(), True),
        T.StructField("a", T.DoubleType(), True),
        T.StructField("b", T.DoubleType(), True),
        T.StructField("c", T.DoubleType(), True),
        T.StructField("d", T.DoubleType(), True),
        T.StructField("e", T.DoubleType(), True),
        T.StructField("f", T.DoubleType(), True),
        T.StructField("centroid_x", T.DoubleType(), True),
        T.StructField("centroid_y", T.DoubleType(), True),
        T.StructField("pixels", T.BinaryType(), True),
        T.StructField("fetched_bytes", T.LongType(), True),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(DECODE_SCHEMA)


def _decode_one(
    ref: str,
    include_pixels: bool,
    overview: int = 0,
    fetchers: dict | None = None,
    window: tuple[int, int, int, int] | None = None,
    range_read: bool = False,
) -> dict:
    """Decode one object. ``overview`` selects the COG pyramid level (0 =
    full res, reference parity; clamped to the deepest available level) —
    the predicate-pushdown hook: a query that only needs coarse statistics
    decodes 4^k× fewer pixels. ``fetchers`` extends the scheme registry
    (``tiff.reader._FETCHERS``) for this call; it rides the UDF closure to
    executors, the only way a new scheme reaches them.

    ``range_read=True`` (r3, beyond-reference) opens the object through a
    range fetcher instead of a whole-object GET: header/IFD blocks only at
    open, then exactly the tile ranges the (optional) ``window`` decode
    touches — the cloud-optimized read the reference skips
    (src/python/adapters.rs:158-168 GETs the entire file).
    file/http/https have range factories; refs of any other scheme, or of
    a scheme ``fetchers`` supplies, fall back to whole-object fetch with the
    same window semantics. ``fetched_bytes`` reports actual IO on the range
    path (None on the whole-object path — there it is simply the object
    size)."""
    # imports inside the worker function: keeps the closure import-light
    from cog3pio_spark.tiff import reader as R
    from cog3pio_spark.tiff.reader import (
        CogReader,
        file_range_fetcher,
        http_range_fetcher,
    )

    row: dict = dict.fromkeys(DECODE_SCHEMA.names)
    if not ref:
        # null/empty ref (a malformed doc's media span can carry one): a
        # taxonomy error row, not a TypeError-text row with a null in the
        # non-nullable media_ref column (r4 review). "" keeps the declared
        # non-null contract; such a row can never equi-join back anyway.
        row["media_ref"] = ""
        row["status"] = "error"
        row["error_msg"] = "Cannot parse url: null or empty media_ref"
        return row
    row["media_ref"] = ref
    try:
        scheme = ref.split("://", 1)[0] if "://" in ref else "file"
        cache = None
        range_factory = None
        if range_read and scheme not in (fetchers or {}):
            # a caller-supplied WHOLE-OBJECT fetcher for this scheme
            # (decrypting/rewriting refs) is never shadowed by the built-in
            # range factory (r3 review finding)
            range_factory = {
                "file": file_range_fetcher,
                "http": http_range_fetcher,
                "https": http_range_fetcher,
            }.get(scheme)
        if range_factory is not None:
            probe = CogReader.from_fetcher(range_factory(ref))
            cache = probe.range_cache
        else:
            if fetchers:
                data = fetchers.get(scheme, R._path_to_bytes)(ref)
            else:
                data = R._path_to_bytes(ref)
            probe = CogReader(data)  # tag parse only; decode is lazy
        level = min(overview, probe.num_images - 1)
        # select_image reuses the parsed IFD chain — never a second header
        # walk (on the range path that would refetch large tag payloads)
        reader = probe.select_image(level) if level else probe
        arr = reader.to_numpy(window=window)
        if cache is not None:
            row["fetched_bytes"] = int(cache.bytes_fetched)
    except Exception as exc:  # error-channel row, reference-shaped message
        row["status"] = "error"
        row["error_msg"] = str(exc)
        return row
    if arr.size == 0:
        # r5 review: a crafted zero-width/height TIFF passes every reader
        # size check (0 == 0) and then crashed the EXECUTOR at farr.min()
        # ('zero-size array to reduction') outside the error channel
        row["status"] = "error"
        row["error_msg"] = (
            f"Cannot decode TIFF: zero-sized image "
            f"(shape {tuple(int(s) for s in arr.shape)})"
        )
        return row
    row["status"] = "ok"
    row["dtype"] = str(arr.dtype)
    row["bands"], row["height"], row["width"] = (int(s) for s in arr.shape)
    farr = arr.astype(np.float64, copy=False)
    row["mean"] = float(farr.mean())
    row["band_means"] = [float(m) for m in farr.mean(axis=(1, 2))]
    row["px_min"] = float(farr.min())
    row["px_max"] = float(farr.max())
    # ONE contiguous serialization reused by the sha and the pixels blob
    # (r5 review: include_pixels runs re-copied the full buffer twice)
    buf = np.ascontiguousarray(arr).tobytes()
    row["pixel_sha256"] = hashlib.sha256(buf).hexdigest()
    try:
        tr = reader.transform()
        # windowed decode: translate the affine origin to the WINDOW's
        # upper-left pixel so a..f georeference the returned array and the
        # centroid describes the window, not the full image (r4 review:
        # assignment/PIP consumed full-image centroids for window rows)
        if window is not None:
            wx0 = max(0, window[0])
            wy0 = max(0, window[1])
            c0 = tr.c + tr.a * wx0 + tr.b * wy0
            f0 = tr.f + tr.d * wx0 + tr.e * wy0
        else:
            c0, f0 = tr.c, tr.f
        row["a"], row["b"], row["c"] = tr.a, tr.b, c0
        row["d"], row["e"], row["f"] = tr.d, tr.e, f0
        # centroid in world coordinates over the DECODED extent
        # (pixel-center contract; b=d=0 — transform() rejects rotation)
        row["centroid_x"] = c0 + tr.a * (arr.shape[2] / 2.0)
        row["centroid_y"] = f0 + tr.e * (arr.shape[1] / 2.0)
    except R.TiffDecodeError:
        # non-geo tiff (missing/short geo tags): stats-only row. Narrowed
        # (r5 review): a bare except here would swallow PROGRAMMING errors
        # in the window arithmetic and silently null the geo columns on
        # every row — all geo joins would drop with status='ok'.
        pass
    if include_pixels:
        row["pixels"] = buf
    return row


def decode_tiles(
    refs: DataFrame,
    include_pixels: bool = False,
    ref_col: str = "media_ref",
    overview: int = 0,
    fetchers: dict | None = None,
    window: tuple[int, int, int, int] | None = None,
    range_read: bool = False,
) -> DataFrame:
    """Decode each distinct media_ref into a tile-stats row.

    ``refs`` should already be distinct on ``ref_col`` (call sites use
    ``dropDuplicates``); this function doesn't re-shuffle. ``overview`` is
    pushed into the UDF (COG pyramid level selection). ``fetchers`` maps
    extra url schemes to ``fn(ref) -> bytes`` resolvers (picklable; shipped
    to executors in the UDF closure — file/http/https are built in).
    ``window``/``range_read``: decode only a pixel window
    and, on the range path, fetch only the header + intersecting tile byte
    ranges (see _decode_one; per-row ``fetched_bytes`` reports actual IO).
    """
    refs = refs.select(ref_col)

    def decode_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column(0).to_pylist()
            rows = [
                _decode_one(
                    r, include_pixels, overview, fetchers,
                    window=window, range_read=range_read,
                )
                for r in col
            ]
            if not rows:
                continue
            yield pa.RecordBatch.from_pylist(rows, schema=_ARROW_SCHEMA)

    return refs.mapInArrow(decode_batches, DECODE_SCHEMA)
