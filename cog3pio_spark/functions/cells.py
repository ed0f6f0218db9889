"""Vectorized pandas_udf wrappers over the numpy cell-index kernels.

Each UDF receives whole Arrow batches as pandas Series and runs pure numpy —
the plan shows ``ArrowEvalPython``, never ``BatchEvalPython`` (enforced by
tests/test_pipeline.py).

Id carrier: Spark LongType via the uint64→int64 bit view. Faces 4 and 5 set
bit 63, so signed ordering permutes the *face blocks* (4,5 sort before 0..3)
— but every S2 cell range [range_min, range_max] lies within one face, where
the signed view is strictly monotone. BETWEEN predicates, range joins and
range partitioning therefore stay correct; only cross-face global order is
cosmetic, which nothing relies on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from cog3pio_spark.cells import h3x as _h3x
from cog3pio_spark.cells import s2 as _s2


def _coords_or_null(la, ln):
    """(lat, lng, null_mask) for pandas Series or numpy arrays: Arrow
    delivers null doubles as NaN, and a NaN or ±inf fed to the int casts
    inside the cell kernels produced a VALID-LOOKING cell id (clipped to a
    face corner; every inf row collapsed into one cell) — null and
    non-finite coordinates must come out as null cells, never as a real
    spatial key (r4 review: null-centroid rows silently joined into
    face-2's corner)."""
    lat_np = np.asarray(la, dtype=np.float64)
    lng_np = np.asarray(ln, dtype=np.float64)
    mask = ~(np.isfinite(lat_np) & np.isfinite(lng_np))
    if mask.any():
        lat_np = np.where(mask, 0.0, lat_np)
        lng_np = np.where(mask, 0.0, lng_np)
    return lat_np, lng_np, mask


def s2_cell(lat: Column, lng: Column, level: int) -> Column:
    @pandas_udf(T.LongType())
    def _u(la: pd.Series, ln: pd.Series) -> pd.Series:
        lat_np, lng_np, mask = _coords_or_null(la, ln)
        ids = _s2.to_signed(_s2.latlng_to_cell(lat_np, lng_np, level))
        if mask.any():
            return pd.Series(ids).astype("Int64").mask(mask)
        return pd.Series(ids)

    return _u(lat, lng)


def _int_cells(c: pd.Series) -> np.ndarray:
    """Non-null int64 cell batch for a kernel, or a LOUD error.

    ADVICE r5 (high): when ANY row of a LongType Arrow batch is null, the
    whole batch reaches the pandas_udf as float64 — and hex ids pack
    significant data into the LOW bits (res<<59|face<<56|q<<28|r), so the
    long→float64 conversion has ALREADY rounded every non-null id in the
    batch to a float-representable value (verified: a res-8 id came back
    ~230 lattice steps away — a valid-looking cell, the worst failure
    class). No in-kernel recovery exists at that point. The fix is at the
    SQL layer (`_null_masked` coalesces NULL to a valid sentinel so the
    batch stays int64 and restores NULL after); this guard makes any
    OTHER null-bearing path fail loudly instead of silently corrupting."""
    if c.dtype != np.int64:
        raise TypeError(
            f"cell kernel received dtype={c.dtype} (expected int64): a "
            "null-bearing long batch arrives as float64 with every id "
            "already rounded — route cells through the null-masked column "
            "wrappers in functions/cells.py, never into a raw pandas_udf"
        )
    return c.to_numpy(np.int64)


def _null_masked(cell: Column, udf) -> Column:
    """NULL-in → NULL-out around a never-null int64 UDF input (see
    ``_int_cells``): NULL cells are coalesced to 0 so Arrow delivers an
    int64 batch with every real id bit-exact, the null mask rides along as
    a second (boolean) argument so kernels can exclude those rows from the
    numpy fn (some kernels assert shape properties, e.g. uniform
    resolution, that a placeholder would violate), and the result column
    restores NULL where the input was NULL."""
    return F.when(cell.isNull(), F.lit(None)).otherwise(
        udf(F.coalesce(cell, F.lit(0)), cell.isNull())
    )


def _valid_apply(c: pd.Series, nulls: pd.Series, fn) -> pd.Series:
    """Run ``fn(ndarray[int64]) -> ndarray`` over the non-masked rows of a
    bit-exact int64 batch; masked rows get a placeholder (discarded by the
    SQL-layer NULL restore in ``_null_masked``)."""
    a = _int_cells(c)
    mask = nulls.to_numpy()
    if not mask.any():
        return pd.Series(fn(a))
    valid = ~mask
    sample = fn(a[valid]) if valid.any() else np.zeros(0, dtype=np.int64)
    out = np.zeros(len(a), dtype=sample.dtype if valid.any() else np.int64)
    out[valid] = sample
    return pd.Series(out)


def s2_range_min(cell: Column) -> Column:
    @pandas_udf(T.LongType())
    def _u(c: pd.Series, nulls: pd.Series) -> pd.Series:
        return _valid_apply(
            c, nulls, lambda a: _s2.to_signed(_s2.range_min(_s2.from_signed(a)))
        )

    return _null_masked(cell, _u)


def s2_range_max(cell: Column) -> Column:
    @pandas_udf(T.LongType())
    def _u(c: pd.Series, nulls: pd.Series) -> pd.Series:
        return _valid_apply(
            c, nulls, lambda a: _s2.to_signed(_s2.range_max(_s2.from_signed(a)))
        )

    return _null_masked(cell, _u)


def s2_parent(cell: Column, level: int) -> Column:
    @pandas_udf(T.LongType())
    def _u(c: pd.Series, nulls: pd.Series) -> pd.Series:
        return _valid_apply(
            c, nulls, lambda a: _s2.to_signed(_s2.parent(_s2.from_signed(a), level))
        )

    return _null_masked(cell, _u)


def h3x_cell(lat: Column, lng: Column, res: int) -> Column:
    @pandas_udf(T.LongType())
    def _u(la: pd.Series, ln: pd.Series) -> pd.Series:
        lat_np, lng_np, mask = _coords_or_null(la, ln)
        ids = _h3x.latlng_to_cell(lat_np, lng_np, res)
        if mask.any():
            return pd.Series(ids).astype("Int64").mask(mask)
        return pd.Series(ids)

    return _u(lat, lng)


def h3x_parent(cell: Column, res: int) -> Column:
    @pandas_udf(T.LongType())
    def _u(c: pd.Series, nulls: pd.Series) -> pd.Series:
        return _valid_apply(c, nulls, lambda a: _h3x.parent(a, res))

    return _null_masked(cell, _u)


def h3x_resolution(cell: Column) -> Column:
    """Resolution of a packed hex cell id (r5: needed by invariant queries
    that group a mixed-resolution compacted set before parent() calls,
    which require uniform-resolution input). NULL cell → NULL."""

    @pandas_udf(T.IntegerType())
    def _u(c: pd.Series, nulls: pd.Series) -> pd.Series:
        return _valid_apply(c, nulls, lambda a: _h3x.resolution(a).astype(np.int32))

    return _null_masked(cell, _u)


def h3x_kring(cell: Column, k: int) -> Column:
    """ARRAY<BIGINT> of all cells within hex distance ≤ k (for explode+join).
    NULL cell → NULL array (r5: NaN-through-int64 made garbage rings; r6 /
    ADVICE r5 high: the ring kNN feeds this from q_cell, which is NULL for
    NaN coords — one such query used to flip the whole Arrow batch to
    float64 and silently corrupt every OTHER query's ring)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _u(c: pd.Series, nulls: pd.Series) -> pd.Series:
        a = _int_cells(c)
        mask = nulls.to_numpy()
        if not mask.any():
            return pd.Series(list(_h3x.k_ring(a, k)))  # (n, 3k(k+1)+1)
        out: list = [None] * len(a)
        valid_idx = np.nonzero(~mask)[0]
        if valid_idx.size:
            ring = _h3x.k_ring(a[valid_idx], k)
            for j, i in enumerate(valid_idx.tolist()):
                out[i] = ring[j]
        return pd.Series(out, dtype=object)

    return _null_masked(cell, _u)


def h3x_multi_res(lat: Column, lng: Column, res_lo: int = 5, res_hi: int = 12) -> Column:
    """ARRAY<BIGINT> of hex cells for res_lo..res_hi (pre-compaction)."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _u(la: pd.Series, ln: pd.Series) -> pd.Series:
        lat_np, lng_np, mask = _coords_or_null(la, ln)
        # one projection for ALL resolutions: face/(u,v) are
        # resolution-invariant, so the lat→xyz→face trig runs once and only
        # the per-res lattice transform repeats (r4 review: the hottest
        # per-tile path redid the projection 8x)
        stacked = _h3x.latlng_to_cells_multi(
            lat_np, lng_np, list(range(res_lo, res_hi + 1))
        )
        out: list = list(stacked)
        if mask.any():
            for i in np.nonzero(mask)[0]:
                out[i] = None
        return pd.Series(out, dtype=object)

    return _u(lat, lng)
