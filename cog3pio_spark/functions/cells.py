"""Arrow-native cell functions over the numpy cell-index kernels.

Each function is one ``arrow_udf`` (``_cell_udf``): Spark hands it whole
Arrow batches, the numpy kernel runs on the batch's valid rows, and the
plan shows ``ArrowEvalPython``, never ``BatchEvalPython`` (enforced by
tests/test_plans.py). ``s2_parent`` is plain bit arithmetic and runs as a
native expression, with no Python at all.

NULL contract, one mask for every cell kernel (``_valid_rows`` →
``_masked``, shared with the fused tile kernel, knn_join, uncompact_cells
and tile_covering): a row whose input is NULL, NaN or ±inf gets a NULL
output, never a valid-looking id (a NaN through the kernels' int casts
lands in a face corner). A latitude past a pole (``_past_pole``) is NULL
too wherever a point becomes a cell: the kernels fold (95, 10) and
(-265, 10) onto the id of (85, 190). Cell ids never pass through a pandas
batch, which turns a NULL-bearing long column into float64 and rounds every
id in it; an Arrow ``Int64Array`` keeps them bit-exact beside its validity
bitmap.

Id carrier: Spark LongType via the uint64→int64 bit view. Faces 4 and 5 set
bit 63, so signed ordering permutes the *face blocks* (4,5 sort before 0..3)
— but every S2 cell range [range_min, range_max] lies within one face, where
the signed view is strictly monotone. BETWEEN predicates, range joins and
range partitioning therefore stay correct; only cross-face global order is
cosmetic, which nothing relies on.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from cog3pio_spark.cells import h3x as _h3x
from cog3pio_spark.cells import s2 as _s2

_ID = T.LongType()
_CELLS = T.ArrayType(_ID)


def _valid_rows(*cols: pa.Array) -> tuple[list[np.ndarray], np.ndarray]:
    """(values, nulls) of equal-length Arrow columns: one numpy array per
    column, and a row mask that is True where any column is NULL or a
    non-finite double. Values at masked rows are zeroed, so no NaN or
    ±inf reaches a kernel's int casts."""
    nulls = np.zeros(len(cols[0]), dtype=bool)
    values = []
    for c in cols:
        if c.null_count:
            nulls |= c.is_null().to_numpy(zero_copy_only=False)
            c = c.fill_null(0)
        v = c.to_numpy(zero_copy_only=False)
        if v.dtype.kind == "f":
            nulls |= ~np.isfinite(v)
        values.append(v)
    if nulls.any():
        values = [np.where(nulls, 0, v) for v in values]
    return values, nulls


def _past_pole(lat: np.ndarray) -> np.ndarray:
    """Row mask of latitudes (degrees) past a pole, |lat| > 90: no point
    lies there, so its cell is NULL, never the wrapped point's id."""
    return np.abs(lat) > 90.0


def _on_globe(lat: str, lng: str) -> Column:
    """The rows whose point has a cell: lat and lng non-NULL and finite,
    and |lat| ≤ 90 (``_valid_rows`` and ``_past_pole`` as a predicate). The
    kNN operators keep only these rows, so a point past a pole is no
    neighbour and a query there gets no rows."""
    def finite(c):
        return F.col(c).isNotNull() & ~F.isnan(c) & (F.abs(c) != float("inf"))

    return finite(lat) & finite(lng) & (F.abs(lat) <= 90.0)


def _masked(values: np.ndarray, nulls: np.ndarray) -> pa.Array:
    """``values`` (one per row) as an Arrow column, NULL where ``nulls``: a
    scalar column, or a ``ListArray`` of the rows of a (rows, width) array."""
    if values.ndim == 1:
        return pa.array(values, mask=nulls if nulls.any() else None)
    n, w = values.shape
    offsets = pa.array(np.arange(0, (n + 1) * w, w, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(values.ravel()), mask=pa.array(nulls) if nulls.any() else None
    )


def _cell_udf(out_type: T.DataType, kernel, *cols, latlng: bool = False) -> Column:
    """``kernel`` (numpy arrays → one value or one fixed-width row per input
    row) over the valid rows of each Arrow batch of ``cols``, NULL elsewhere.
    Only valid rows reach the kernel: some assert properties of their whole
    input (``h3x.parent``: one resolution) that a zeroed row would break.
    With ``latlng``, ``cols`` are (lat, lng) and a row past a pole is
    invalid too."""
    arrow_type = to_arrow_type(out_type)

    def _u(*arrays: pa.Array) -> pa.Array:
        values, nulls = _valid_rows(*arrays)
        if latlng:
            nulls |= _past_pole(values[0])
        if nulls.all():
            return pa.nulls(len(nulls), arrow_type)
        if not nulls.any():
            return _masked(kernel(*values), nulls)
        part = kernel(*(v[~nulls] for v in values))
        out = np.zeros((len(nulls),) + part.shape[1:], part.dtype)
        out[~nulls] = part
        return _masked(out, nulls)

    return arrow_udf(_u, out_type)(*cols)


def s2_cell(lat: Column, lng: Column, level: int) -> Column:
    return _cell_udf(_ID, lambda la, ln: _s2.to_signed(_s2.latlng_to_cell(la, ln, level)), lat, lng,
                     latlng=True)


def s2_range_min(cell: Column) -> Column:
    return _cell_udf(_ID, lambda a: _s2.to_signed(_s2.range_min(_s2.from_signed(a))), cell)


def s2_range_max(cell: Column) -> Column:
    return _cell_udf(_ID, lambda a: _s2.to_signed(_s2.range_max(_s2.from_signed(a))), cell)


def s2_parent(cell: Column, level: int) -> Column:
    """Parent at ``level`` as a native Catalyst expression, ``cell &
    ~(lsb - 1) | lsb`` on the int64 carrier: bit-identical to
    ``cells.s2.parent`` (two's-complement bitwise ops are the same on the
    uint64 and int64 views, and cannot overflow under ANSI mode); NULL in,
    NULL out. No Python round trip, unlike ``s2_range_min``/``_max``, whose
    subtraction can overflow on invalid ids and so stays in numpy."""
    if not 0 <= level <= _s2.MAX_LEVEL:
        raise ValueError(f"S2 level must be in 0..{_s2.MAX_LEVEL}, got {level}")
    lsb = 1 << (2 * (_s2.MAX_LEVEL - level))
    cell = F.col(cell) if isinstance(cell, str) else cell
    return cell.bitwiseAND(F.lit(~(lsb - 1)).cast("long")).bitwiseOR(
        F.lit(lsb).cast("long")
    )


def h3x_cell(lat: Column, lng: Column, res: int) -> Column:
    return _cell_udf(_ID, lambda la, ln: _h3x.latlng_to_cell(la, ln, res), lat, lng, latlng=True)


def h3x_parent(cell: Column, res: int) -> Column:
    return _cell_udf(_ID, lambda a: _h3x.parent(a, res), cell)


def h3x_resolution(cell: Column) -> Column:
    """Resolution of a packed hex cell id (r5: needed by invariant queries
    that group a mixed-resolution compacted set before parent() calls,
    which require uniform-resolution input). NULL cell → NULL."""
    return _cell_udf(T.IntegerType(), lambda a: _h3x.resolution(a).astype(np.int32), cell)


def h3x_kring(cell: Column, k: int) -> Column:
    """ARRAY<BIGINT> of all cells within hex distance ≤ k (for explode+join).
    NULL cell → NULL array."""
    return _cell_udf(_CELLS, lambda a: _h3x.k_ring(a, k), cell)


def h3x_multi_res(lat: Column, lng: Column, res_lo: int = 5, res_hi: int = 12) -> Column:
    """ARRAY<BIGINT> of hex cells for res_lo..res_hi (pre-compaction). One
    projection serves all resolutions: face/(u,v) are resolution-invariant,
    so only the per-res lattice transform repeats."""
    res = list(range(res_lo, res_hi + 1))
    return _cell_udf(_CELLS, lambda la, ln: _h3x.latlng_to_cells_multi(la, ln, res), lat, lng,
                     latlng=True)
