"""The tile path: decode → cell-assign → PIP verdict in ONE Arrow stage.

``fused_decode_assign_pip`` is the only code that turns media refs into
cell and polygon rows. It runs the whole raster⋈vector branch as a single
``mapInArrow`` pass over the ``media_ref`` column: each distinct ref is
decoded once, its centroid is assigned an S2 cell and hex cells at
``assign.py``'s levels (``S2_LEVEL_DEFAULT``, ``HEX_RES_LO``..``HEX_RES_HI``,
the same definition ``assign_cells`` defaults to), and it is probed against
the broadcast polygon pack. ``decode_tiles``, ``assign_cells`` and
``pip_join`` stay as separate public operators over the same helpers
(``_decode_one``, the cell functions' NULL mask ``_valid_rows``/``_masked``),
not as a second tile path. The polygon side is ``pip_join.py``'s, unchanged:
``pack_polygons`` (one Arrow collect, one validity rule, the ids as one
Arrow string array this kernel ``take``s from) and ``_pip_candidates``.

Passthrough contract: every input column is carried to the output (Arrow
``take``), so callers can pipe pre-aggregated per-ref statistics (counts,
HLL sketches) straight through the kernel and aggregate the verdicts without
any downstream join — the flagship plan is scan → agg → kernel → agg, with
exactly one shuffle over the span table.

Output: one row per (input row, containing polygon); rows whose tile is in
no polygon get polygon_id NULL (so decode/assign results are never lost);
decode errors get status='error', the decode taxonomy's error_msg and NULL
geometry. Non-finite centroids get NULL cells and no polygon; a centroid
past a pole (``_past_pole``) gets NULL cells, as in ``assign_cells``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cog3pio_spark.operators.assign import HEX_RES_HI, HEX_RES_LO, S2_LEVEL_DEFAULT
from cog3pio_spark.operators.decode import DECODE_SCHEMA
from cog3pio_spark.operators.pip_join import _pip_candidates, pack_polygons

COMPUTED_FIELDS = [
    *(DECODE_SCHEMA[n] for n in ("status", "error_msg", "dtype", "bands", "mean")),
    T.StructField("s2_cell", T.LongType(), True),
    T.StructField("hex_cells", T.ArrayType(T.LongType()), True),
    DECODE_SCHEMA["centroid_x"],
    DECODE_SCHEMA["centroid_y"],
    T.StructField("polygon_id", T.StringType(), True),
]
# the decode-derived output columns, as one Arrow batch per input batch
_DECODED = to_arrow_schema(
    T.StructType([f for f in COMPUTED_FIELDS if f.name in DECODE_SCHEMA.names])
)


def fused_decode_assign_pip(refs: DataFrame, polygons: DataFrame) -> DataFrame:
    """One-Python-stage tile branch over distinct-ref rows (+ passthrough)."""
    spark = refs.sparkSession
    bc = spark.sparkContext.broadcast(pack_polygons(polygons))

    in_schema = refs.schema
    out_schema = T.StructType(list(in_schema.fields) + COMPUTED_FIELDS)
    ref_idx = in_schema.fieldNames().index("media_ref")
    hex_res = list(range(HEX_RES_LO, HEX_RES_HI + 1))

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from cog3pio_spark.cells import h3x, s2
        from cog3pio_spark.functions.cells import _masked, _past_pole, _valid_rows
        from cog3pio_spark.functions.geo import EARTH_RADIUS_M
        from cog3pio_spark.operators.decode import _decode_one

        pack = bc.value
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            decoded = pa.RecordBatch.from_pylist(
                [
                    _decode_one(r, include_pixels=False)
                    for r in batch.column(ref_idx).to_pylist()
                ],
                schema=_DECODED,
            )
            # error rows carry NULL centroids; those and non-finite ones
            # get NULL cells and no polygon, and one past a pole NULL cells
            (cy, cx), nulls = _valid_rows(
                decoded.column("centroid_y"), decoded.column("centroid_x")
            )
            lat, lng = np.degrees(cy / EARTH_RADIUS_M), np.degrees(cx / EARTH_RADIUS_M)
            no_cell = nulls | _past_pole(lat)
            s2c = _masked(s2.to_signed(s2.latlng_to_cell(lat, lng, S2_LEVEL_DEFAULT)), no_cell)
            hexes = _masked(h3x.latlng_to_cells_multi(lat, lng, hex_res), no_cell)
            pt_idx, pg_idx = _pip_candidates(
                np.where(nulls, np.nan, cx), np.where(nulls, np.nan, cy), pack
            )
            # one output row per hit, or one NULL-polygon row for a ref
            # without hits; pairs arrive in ascending point order, so the
            # hit rows' slots are filled in pair order
            hits = np.bincount(pt_idx, minlength=n)
            per_ref = np.maximum(hits, 1)
            take = pa.array(np.repeat(np.arange(n), per_ref))
            poly = np.full(len(take), -1, np.int64)
            poly[np.repeat(hits > 0, per_ref)] = pg_idx
            computed = dict(zip(_DECODED.names, decoded.columns))
            computed.update(s2_cell=s2c, hex_cells=hexes)
            cols = [c.take(take) for c in batch.columns]
            cols += [computed[f.name].take(take) for f in COMPUTED_FIELDS[:-1]]
            cols.append(pack["ids"].take(pa.array(poly, mask=poly < 0)))
            yield pa.RecordBatch.from_arrays(cols, names=out_schema.fieldNames())

    return refs.mapInArrow(kernel, out_schema)
