"""Cell assignment + multi-resolution compaction + range partitioning.

``assign_cells`` turns decoded tile rows into spatially-indexed rows:
S2 cell id (partitioning + range joins) and hex cells res 5..12 (kNN rings,
rollups). The world→lat/lng mapping is pure column math; cell ids are
Arrow-batched numpy (functions/cells.py).

``compact_cells`` is the iterative aperture-7 compaction (SURVEY §2.B aggs):
at each res r from hi→lo, groups of 7 sibling cells collapse into their
parent. Implemented with plain groupBy/agg — each iteration is one shuffle on
the (shrinking) cell set; 8 iterations for res 12→5. At scale the input to
iteration r+1 is ≤ 1/7 of iteration r, so the total cost is dominated by the
first shuffle (geometric series), which AQE coalesces.

``range_partition_by_cell`` gives the explicit cell-ID range partitioning the
north_rule mandates: repartitionByRange on the S2 id samples range bounds, so
downstream per-partition work is spatially local and partition pruning on
cell ranges hits parquet row-group stats.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from cog3pio_spark.cells import h3x
from cog3pio_spark.functions import cells as C
from cog3pio_spark.functions import geo as G

S2_LEVEL_DEFAULT = 12
HEX_RES_LO = 5
HEX_RES_HI = 12


def assign_cells(
    tiles: DataFrame,
    s2_level: int = S2_LEVEL_DEFAULT,
    hex_lo: int = HEX_RES_LO,
    hex_hi: int = HEX_RES_HI,
    x_col: str = "centroid_x",
    y_col: str = "centroid_y",
) -> DataFrame:
    """Add lat/lng, s2_cell, and hex_cells (res lo..hi) columns."""
    df = tiles.withColumn("lat", G.world_to_lat(F.col(y_col))).withColumn(
        "lng", G.world_to_lng(F.col(x_col))
    )
    df = df.withColumn("s2_cell", C.s2_cell(F.col("lat"), F.col("lng"), s2_level))
    df = df.withColumn(
        "hex_cells", C.h3x_multi_res(F.col("lat"), F.col("lng"), hex_lo, hex_hi)
    )
    return df


def compact_cells(
    cells: DataFrame, cell_col: str = "cell", res_hi: int = HEX_RES_HI, res_lo: int = HEX_RES_LO
) -> DataFrame:
    """Compact a distinct hex cell set: 7 present siblings ⇒ parent.

    Input: DataFrame with one LongType hex-cell column at resolution
    ``res_hi`` (distinct). Output: the compacted set (mixed resolutions),
    same single column. Lossless: uncompacting the result at res_hi
    reproduces the input exactly (tested property).
    """
    remaining = cells.select(F.col(cell_col).alias("cell")).distinct()
    out_parts = []
    for res in range(res_hi, res_lo, -1):
        # localCheckpoint: with_parent feeds TWO branches (counts + anti-join)
        # across 7 chained iterations — without truncation each final-union
        # branch re-embeds every earlier iteration's parent-UDF + shuffle
        # (r4 review: ~2x per downstream iteration; ReusedExchange is
        # fragile under column pruning per CLAUDE.md)
        with_parent = remaining.withColumn(
            "parent", C.h3x_parent(F.col("cell"), res - 1)
        ).localCheckpoint(eager=True)
        counts = with_parent.groupBy("parent").agg(F.count("*").alias("n"))
        full = counts.filter(F.col("n") == 7).select(F.col("parent"))
        # children of full parents are replaced by the parent at res-1
        promoted = full.select(F.col("parent").alias("cell"))
        kept = (
            with_parent.join(
                full.withColumnRenamed("parent", "p"),
                with_parent["parent"] == F.col("p"),
                "left_anti",
            )
            .select("cell")
        )
        out_parts.append(kept)
        remaining = promoted
    out_parts.append(remaining)
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out


def uncompact_cells(cells: DataFrame, target_res: int, cell_col: str = "cell") -> DataFrame:
    """Expand a compacted set back to uniform ``target_res``. A NULL cell
    expands to no children (the cell functions' NULL mask)."""

    def expand(c: pa.Array) -> pa.Array:
        (arr,), nulls = C._valid_rows(c)
        res = np.where(nulls, target_res, h3x.resolution(arr))
        if res.max(initial=0) > target_res:
            # r4 review: silently passing finer cells through would mix
            # resolutions in the 'uniform target_res' output contract
            raise ValueError(f"uncompact_cells: input cell at res {res.max()} is finer "
                             f"than target_res {target_res}")
        # one list row of 7^(target_res - res) children per cell, none per NULL
        offsets = np.r_[0, np.cumsum(np.where(nulls, 0, 7 ** (target_res - res)))]
        kids = np.zeros(offsets[-1], dtype=np.int64)
        # vectorized per resolution group: expand all same-res cells together
        for r in np.unique(res[~nulls]):
            idx = np.nonzero((res == r) & ~nulls)[0]
            cur = arr[idx]
            for _ in range(target_res - r):
                cur = h3x.children(cur.ravel())
            cur = cur.reshape(len(idx), -1)
            kids[offsets[idx][:, None] + np.arange(cur.shape[1])] = cur
        offsets = pa.array(offsets, pa.int32())  # a checked cast: raises past 2^31 children
        return pa.ListArray.from_arrays(offsets, pa.array(kids), mask=pa.array(nulls))

    kids = arrow_udf(expand, T.ArrayType(T.LongType()))(F.col(cell_col))
    return cells.select(F.explode(kids).alias(cell_col))


def tile_covering(
    tiles: DataFrame,
    target_cells: int = 64,
    x_col: str = "centroid_x",
    y_col: str = "centroid_y",
) -> DataFrame:
    """Per-tile compacted hex covering of the tile's bbox (ARRAY<BIGINT>).

    Input rows need affine + shape columns (a, e, c, f, width, height) from
    the decode stage. The covering is adaptive-resolution + compacted
    (north_star: 'H3 res 5-12 compacted' as cell *sets*, not centroid
    chains), computed per tile inside Arrow batches. A ``covering_res``
    column carries the pre-compaction base resolution (r5): the compacted
    set's coverage contract is hierarchical at THAT res — checkers and
    join planners need it (see cover_bbox_compact docstring).
    """
    from cog3pio_spark.functions.geo import EARTH_RADIUS_M

    @arrow_udf(
        T.StructType(
            [
                T.StructField("cells", T.ArrayType(T.LongType())),
                T.StructField("res", T.IntegerType()),
            ]
        )
    )
    def cover(*cols: pa.Array) -> pa.Array:
        (c, f, a, e, w, hgt), nulls = C._valid_rows(*cols)
        # bbox corners in degrees; a NULL or non-finite affine field (the
        # cell functions' NULL mask), a non-finite corner or one past a pole
        # gets a NULL covering, never a garbage single cell from a NaN→int
        # cast or a wrapped latitude
        lat = np.degrees(np.stack([f + e * hgt, f]) / EARTH_RADIUS_M)
        lng = np.degrees(np.stack([c, c + a * w]) / EARTH_RADIUS_M)
        nulls |= ~np.isfinite(np.r_[lat, lng]).all(axis=0) | C._past_pole(lat).any(axis=0)
        out_cells: list = [None] * len(nulls)
        out_res: list = [None] * len(nulls)
        for i in np.nonzero(~nulls)[0]:
            out_cells[i], out_res[i] = h3x.cover_bbox_compact(
                lat[:, i].min(), lng[:, i].min(), lat[:, i].max(), lng[:, i].max(),
                target_cells, return_res=True,
            )
        return pa.StructArray.from_arrays(
            [pa.array(out_cells, pa.list_(pa.int64())), pa.array(out_res, pa.int32())],
            names=["cells", "res"],
        )

    covered = tiles.withColumn(
        "_cov",
        cover(F.col("c"), F.col("f"), F.col("a"), F.col("e"),
              F.col("width"), F.col("height")),
    )
    return covered.withColumn("covering_cells", F.col("_cov.cells")).withColumn(
        "covering_res", F.col("_cov.res")
    ).drop("_cov")


# explicit StructType, not a DDL string: the DDL parse needs an active
# SparkSession at decoration time and this is module scope (import breaks)
_COVERING_CHECK_SCHEMA = T.StructType(
    [
        T.StructField("antichain_violations", T.LongType()),
        T.StructField("coverage_gaps", T.LongType()),
        T.StructField("empty_covering", T.LongType()),
    ]
)


@arrow_udf(_COVERING_CHECK_SCHEMA)
def _covering_check(
    cells: pa.Array, base_res: pa.Array, c: pa.Array, f: pa.Array,
    a: pa.Array, e: pa.Array, w: pa.Array, hgt: pa.Array,
) -> pa.Array:
    """Per-tile structural invariants of a compacted bbox covering (r5,
    q39 oracle conversion — the q33 recipe applied to tile_covering):

    * antichain: no covering cell is an ancestor of another (checked with
      the INDEPENDENT parent-walk primitives, not cover_bbox internals);
    * coverage: a 7×7 deterministic lat/lng grid INCLUDING the bbox
      corners/edges (the r5 cover_bbox fix makes the covering a closed
      superset) — every sample's direct cell at the covering's BASE
      resolution must have an ancestor (or itself) in the set. The base
      res comes from the ``covering_res`` column; neither "max res present
      after compaction" (r5 review: full promotion of the finest level
      shifts it) nor direct assignment at coarser present resolutions
      (aperture-7 parents are not geometric unions of children) is a
      sound substitute;
    * non-empty: a valid decode must produce ≥1 cell.

    A row whose covering, base res or affine field is NULL or non-finite
    (the cell functions' NULL mask) counts as an empty covering.
    """
    from cog3pio_spark.functions.geo import EARTH_RADIUS_M

    (br, ci, fi, ai, ei, wi, hi), nulls = C._valid_rows(base_res, c, f, a, e, w, hgt)
    nulls |= cells.is_null().to_numpy(zero_copy_only=False)
    anti_out, gaps_out = np.zeros((2, len(nulls)), np.int64)
    empty_out = np.ones(len(nulls), np.int64)
    for i in np.nonzero(~nulls)[0]:
        arr = np.asarray(cells[i].values, dtype=np.int64)
        if arr.size == 0:
            continue
        cellset = set(arr.tolist())
        res = h3x.resolution(arr)
        lo, hi_r = int(res.min()), int(res.max())
        # antichain: walk every finer cell up through each coarser res
        anti = 0
        for r in range(lo, hi_r):
            finer = arr[res > r]
            if finer.size:
                for rr in np.unique(res[res > r]):
                    grp = arr[res == rr]
                    anc = grp.copy()
                    anc = h3x.parent(anc, r)
                    anti += int(sum(1 for x in anc.tolist() if x in cellset))
        # coverage: 7x7 grid incl. corners; direct assignment at the BASE
        # res, then ancestor-walk membership (see docstring)
        x0, x1 = float(ci[i]), float(ci[i]) + float(ai[i]) * int(wi[i])
        y1, y0 = float(fi[i]), float(fi[i]) + float(ei[i]) * int(hi[i])
        la = np.degrees(np.linspace(min(y0, y1), max(y0, y1), 7) / EARTH_RADIUS_M)
        ln = np.degrees(np.linspace(min(x0, x1), max(x0, x1), 7) / EARTH_RADIUS_M)
        gl, gn = np.meshgrid(la, ln)
        R = int(br[i])
        cur = h3x.latlng_to_cell(gl.ravel(), gn.ravel(), R)
        covered = np.zeros(cur.shape, dtype=bool)
        for r in range(R, lo - 1, -1):
            sel = arr[res == r]
            if sel.size:
                covered |= np.isin(cur, sel)
            if r > lo:
                cur = h3x.parent(cur, r - 1)
        anti_out[i], gaps_out[i], empty_out[i] = anti, int((~covered).sum()), 0
    return pa.StructArray.from_arrays(
        [pa.array(anti_out), pa.array(gaps_out), pa.array(empty_out)],
        names=_COVERING_CHECK_SCHEMA.names,
    )


def covering_invariants(covered: DataFrame) -> DataFrame:
    """Aggregate `_covering_check` over tile_covering output: one row per
    invariant (violations must be 0) plus the valid-tile count anchor."""
    checked = covered.withColumn(
        "_chk",
        _covering_check(
            F.col("covering_cells"), F.col("covering_res"), F.col("c"),
            F.col("f"), F.col("a"), F.col("e"), F.col("width"),
            F.col("height"),
        ),
    )
    agg = checked.agg(
        F.sum("_chk.antichain_violations").cast("long").alias("antichain_violations"),
        F.sum("_chk.coverage_gaps").cast("long").alias("coverage_gaps"),
        F.sum("_chk.empty_covering").cast("long").alias("empty_coverings"),
        F.count("*").alias("n_valid_tiles"),
    )
    return agg.select(
        F.expr(
            "stack(4, "
            "'antichain_violations', antichain_violations, "
            "'coverage_gaps', coverage_gaps, "
            "'empty_coverings', empty_coverings, "
            "'n_valid_tiles', n_valid_tiles) AS (invariant, val)"
        )
    ).orderBy("invariant")


def range_partition_by_cell(
    df: DataFrame, n_partitions: int, cell_col: str = "s2_cell"
) -> DataFrame:
    """Explicit cell-ID range partitioning (north_rule).

    repartitionByRange samples the id distribution, so Zipf-hot cell ranges
    get split across bounds rather than landing in one partition. S2 ids are
    Hilbert-ordered ⇒ ranges are spatially compact ⇒ per-partition work
    (PIP probes, manifest checkpointing) touches a contiguous region.
    """
    return df.repartitionByRange(n_partitions, F.col(cell_col))
