"""Property tests for the from-scratch cell indexes (SURVEY §7 M2)."""

from __future__ import annotations

import collections

import numpy as np
import pytest

from cog3pio_spark.cells import h3x, s2
from cog3pio_spark.functions import cells as C

RNG = np.random.RandomState(99)
LAT = RNG.uniform(-85, 85, 3000)
LNG = RNG.uniform(-180, 180, 3000)


class TestS2:
    def test_leaf_roundtrip(self):
        leaf = s2.latlng_to_cell(LAT, LNG, 30)
        assert np.all(s2.level_of(leaf) == 30)
        clat, clng = s2.cell_center_latlng(leaf)
        assert np.abs(clat - LAT).max() < 1e-5
        assert (np.abs((clng - LNG + 180) % 360 - 180)).max() < 1e-4

    def test_parent_contains_child(self):
        leaf = s2.latlng_to_cell(LAT, LNG, 30)
        for lvl in (5, 10, 20):
            p = s2.parent(leaf, lvl)
            assert np.all(s2.level_of(p) == lvl)
            assert np.all(s2.range_min(p) <= leaf)
            assert np.all(leaf <= s2.range_max(p))

    def test_parent_transitive(self):
        leaf = s2.latlng_to_cell(LAT, LNG, 30)
        assert np.all(s2.parent(s2.parent(leaf, 12), 6) == s2.parent(leaf, 6))

    def test_face_centers(self):
        cases = [((0, 0), 0), ((0, 90), 1), ((90, 0), 2), ((0, 180), 3), ((0, -90), 4), ((-90, 0), 5)]
        for (lat, lng), face in cases:
            c = s2.latlng_to_cell(np.array([float(lat)]), np.array([float(lng)]), 0)
            assert int(c[0] >> np.uint64(61)) == face

    def test_locality(self):
        a = s2.latlng_to_cell(LAT, LNG, 30)
        b = s2.latlng_to_cell(LAT + 1e-7, LNG, 30)
        assert (s2.parent(a, 20) == s2.parent(b, 20)).mean() > 0.95

    def test_signed_view_roundtrip(self):
        leaf = s2.latlng_to_cell(LAT, LNG, 30)
        assert np.all(s2.from_signed(s2.to_signed(leaf)) == leaf)


class TestHex:
    def test_children_parent_closure(self):
        for res in (3, 7, 11):
            c = np.unique(h3x.latlng_to_cell(LAT, LNG, res))
            ch = h3x.children(c)
            assert np.all(h3x.parent(ch.ravel()).reshape(ch.shape) == c[:, None])
            assert np.unique(ch.ravel()).size == ch.size

    def test_exact_partition_into_7(self):
        patch = h3x.k_ring(h3x.latlng_to_cell(np.array([47.0]), np.array([8.0]), 9), 20).ravel()
        counts = collections.Counter(h3x.parent(patch).tolist())
        assert max(counts.values()) == 7
        assert sum(1 for v in counts.values() if v == 7) > 100

    def test_multi_level_parent_consistency(self):
        c = h3x.latlng_to_cell(LAT, LNG, 12)
        assert np.all(h3x.parent(h3x.parent(c, 9), 5) == h3x.parent(c, 5))

    def test_kring_size_and_distance(self):
        c = np.unique(h3x.latlng_to_cell(LAT[:200], LNG[:200], 8))
        for k in (1, 2, 3):
            ring = h3x.k_ring(c, k)
            assert ring.shape[1] == 3 * k * (k + 1) + 1
            a = np.repeat(c, ring.shape[1])
            assert np.all(h3x.hex_distance(a, ring.ravel()) <= k)

    def test_geo_locality(self):
        a = h3x.latlng_to_cell(LAT, LNG, 5)
        b = h3x.latlng_to_cell(LAT + 1e-6, LNG, 5)
        assert (a == b).mean() > 0.99

    def test_resolution_extraction(self):
        for res in (0, 5, 15):
            c = h3x.latlng_to_cell(LAT[:50], LNG[:50], res)
            assert np.all(h3x.resolution(c) == res)


class TestS2Compaction:
    def test_full_sibling_sets_promote(self):
        p10 = np.unique(s2.parent(s2.latlng_to_cell(LAT[:30], LNG[:30], 30), 10))
        lsb = p10 & (~p10 + np.uint64(1))
        q = lsb >> np.uint64(2)
        base = p10 - lsb + q
        kids = np.stack([base + np.uint64(2 * i) * q for i in range(4)], 1).ravel()
        assert np.all(s2.level_of(kids) == 11)
        comp = s2.compact_np(kids)
        assert set(comp.tolist()) == set(p10.tolist())  # fully promoted

    def test_partial_sets_kept(self):
        c = s2.latlng_to_cell(LAT[:50], LNG[:50], 12)  # scattered: no full sets
        comp = s2.compact_np(c)
        assert set(comp.tolist()) == set(np.unique(c).tolist())


class TestCompactionNumpy:
    """compact/uncompact round-trip at the numpy level (DataFrame op in
    tests/test_operators.py)."""

    def test_full_children_compact_roundtrip(self):
        base = np.unique(h3x.latlng_to_cell(LAT[:100], LNG[:100], 6))
        kids = h3x.children(base).ravel()  # complete sets by construction
        parents = np.unique(h3x.parent(kids))
        assert np.array_equal(np.sort(parents), np.sort(base))


def test_cover_bbox_face_straddling_clips_to_center_face():
    """r4 review: a bbox straddling an S2 face edge used to produce a
    garbage axial extent (corners projected onto their OWN faces but read
    in corner 0's frame) and, through cover_bbox_compact's fallback, a
    silent single-cell covering. Now every corner projects onto the
    CENTER's face and clamps to the face rim: the straddling covering is
    comparable to the same-size in-face covering (the documented clip can
    only trim the out-of-face sliver)."""
    import numpy as np

    from cog3pio_spark.cells import h3x

    straddle = h3x.cover_bbox_compact(10.0, -45.4, 10.6, -44.6)
    in_face = h3x.cover_bbox_compact(10.0, -40.4, 10.6, -39.6)
    assert len(straddle) >= len(in_face) * 0.5, (len(straddle), len(in_face))
    assert len(straddle) > 10  # never the 1-cell fallback
    # all covering cells live on the center's face
    faces = set(h3x.cell_center_uv(np.asarray(straddle))[0].tolist())
    assert len(faces) == 1


def test_uncompact_rejects_finer_than_target(spark):
    """r4 review: cells finer than target_res used to pass through
    unchanged, silently mixing resolutions in the uniform-res contract."""
    import numpy as np
    import pytest as _pytest

    from cog3pio_spark.cells import h3x
    from cog3pio_spark.operators.assign import uncompact_cells

    fine = h3x.latlng_to_cell(np.array([10.0]), np.array([20.0]), 9)
    df = spark.createDataFrame([(int(fine[0]),)], ["cell"])
    with _pytest.raises(Exception, match="finer"):
        uncompact_cells(df, target_res=8).collect()


def test_uncompact_null_cell_expands_to_nothing(spark):
    """A NULL cell in the batch expands to no children; it used to kill the
    job with a bare AssertionError from h3x.center_child."""
    from cog3pio_spark.operators.assign import uncompact_cells

    hex8 = int(h3x.latlng_to_cell(np.array([10.0]), np.array([20.0]), 8)[0])
    hex7 = int(h3x.parent(np.array([hex8]), 7)[0])
    df = spark.createDataFrame([(hex8,), (None,), (hex7,)], "cell bigint").coalesce(1)
    got = sorted(r["cell"] for r in uncompact_cells(df, 9).collect())
    kids7 = h3x.children(h3x.children(np.array([hex7])).ravel()).ravel()
    want = sorted(h3x.children(np.array([hex8])).ravel().tolist() + kids7.tolist())
    assert got == want


def test_tile_covering_null_affine_rows(spark):
    """r4 review: Arrow delivers null doubles as NaN, so the old `is None`
    guard never fired and null-affine rows got garbage single-cell
    coverings; they now produce null coverings. A ±inf or NaN affine field
    (which the later `pd.isna` guard let through as one garbage res-12
    cell) and a NULL width do too, as does a corner past a pole (f = 1e8 m
    is latitude ~898°); q39's checker counts each as an empty covering."""
    from cog3pio_spark.operators.assign import covering_invariants, tile_covering

    inf = float("inf")
    df = spark.createDataFrame(
        [
            ("ok", 100.0, 60.0, 0.5, -0.5, 16, 16),
            ("no_geo", None, None, None, None, 16, 16),
            ("inf_c", inf, 60.0, 0.5, -0.5, 16, 16),
            ("neginf_f", 100.0, -inf, 0.5, -0.5, 16, 16),
            ("nan_a", 100.0, 60.0, float("nan"), -0.5, 16, 16),
            ("no_width", 100.0, 60.0, 0.5, -0.5, None, 16),
            ("past_pole", 100.0, 1e8, 0.5, -0.5, 16, 16),
        ],
        "media_ref string, c double, f double, a double, e double, "
        "width int, height int",
    ).coalesce(1)
    rows = {r["media_ref"]: r for r in tile_covering(df).collect()}
    assert rows["ok"]["covering_cells"] is not None and len(rows["ok"]["covering_cells"]) > 0
    assert rows["ok"]["covering_res"] == 12
    for bad in ("no_geo", "inf_c", "neginf_f", "nan_a", "no_width", "past_pole"):
        assert rows[bad]["covering_cells"] is None and rows[bad]["covering_res"] is None, bad
    # q39's checker over the same rows: the bad ones count as empty
    checked = {r["invariant"]: r["val"] for r in covering_invariants(tile_covering(df)).collect()}
    assert checked == {"antichain_violations": 0, "coverage_gaps": 0,
                       "empty_coverings": 6, "n_valid_tiles": 7}, checked


def test_x_coords_zero_width(spark):
    """r4 review: sequence(0, -1) inferred step -1 and emitted [0, -1] —
    two bogus coordinates for width=0 instead of the documented empty axis."""
    from pyspark.sql import functions as F

    from cog3pio_spark.functions import geo as G

    df = spark.createDataFrame([(0,), (3,)], ["w"])
    out = {
        r["w"]: r["xs"]
        for r in df.select(
            "w",
            G.x_coords_expr(F.lit(2.0), F.lit(10.0), F.col("w")).alias("xs"),
        ).collect()
    }
    assert out[0] == []
    assert out[3] == [11.0, 13.0, 15.0]


def test_coords_null_dims_yield_null(spark):
    """r6 review: NULL width/height fell into the otherwise(empty) branch,
    turning a missing dimension into a valid-looking empty axis (zero rows
    downstream instead of a NULL to surface). NULL in → NULL out."""
    from pyspark.sql import functions as F

    from cog3pio_spark.functions import geo as G

    df = spark.createDataFrame([(None,), (2,)], "w int")
    out = {
        i: (r["xs"], r["ys"])
        for i, r in enumerate(
            df.select(
                G.x_coords_expr(F.lit(2.0), F.lit(10.0), F.col("w")).alias("xs"),
                G.y_coords_expr(F.lit(-2.0), F.lit(10.0), F.col("w")).alias("ys"),
            ).collect()
        )
    }
    assert out[0] == (None, None)
    assert out[1] == ([11.0, 13.0], [9.0, 7.0])


def test_cover_bbox_is_true_covering():
    """r5 fix: cover_bbox used to keep only cells whose CENTERS fall in the
    bbox, dropping boundary-overlapping cells — interior points near the
    edge were uncovered (silent tile-edge loss for covering-based joins).
    Now a superset: every interior sample's cell (or ancestor, for the
    compacted variant) must be in the covering."""
    rng = np.random.RandomState(19)
    boxes = []
    for _ in range(12):
        boxes.append(
            (
                float(rng.uniform(-55, 50)), float(rng.uniform(-160, 150)),
                float(rng.uniform(0.01, 0.6)), float(rng.uniform(0.01, 0.6)),
            )
        )
    # high-latitude cases (r5 review: a scalar single-neighbor pad under-
    # covered the lng axis past ~60° where a hexagon's lng-degree extent
    # grows by 1/cos(lat); the pad is per-axis from both basis vectors now)
    for lat0 in (60.0, 66.5, 71.2, -68.0):
        boxes.append((lat0, float(rng.uniform(-150, 150)), 0.2, 0.5))
    for lat0, lng0, dlat, dlng in boxes:
        lat1, lng1 = lat0 + dlat, lng0 + dlng
        cells, base_res = h3x.cover_bbox_compact(
            lat0, lng0, lat1, lng1, 64, return_res=True
        )
        arr = np.asarray(cells, np.int64)
        assert arr.size > 0
        res = h3x.resolution(arr)
        lo = int(res.min())
        assert int(res.max()) <= base_res
        # corner/edge-INCLUSIVE grid; coverage contract = direct assignment
        # at the BASE res, then ancestor-walk membership (a compacted set
        # covers hierarchically — aperture-7 parents are not geometric
        # unions of children, so coarser direct assignment is not sound)
        gl, gn = np.meshgrid(
            np.linspace(lat0, lat1, 9), np.linspace(lng0, lng1, 9)
        )
        cur = h3x.latlng_to_cell(gl.ravel(), gn.ravel(), base_res)
        covered = np.zeros(cur.shape, dtype=bool)
        for r in range(base_res, lo - 1, -1):
            sel = arr[res == r]
            if sel.size:
                covered |= np.isin(cur, sel)
            if r > lo:
                cur = h3x.parent(cur, r - 1)
        assert covered.all(), (lat0, lng0, lat1, lng1, int((~covered).sum()))


# name → (input columns, the cell function, its numpy kernel)
CELL_FUNCTIONS = {
    "s2_cell": (
        ("lat", "lng"),
        lambda la, ln: C.s2_cell(la, ln, 12),
        lambda la, ln: s2.to_signed(s2.latlng_to_cell(la, ln, 12)),
    ),
    "s2_range_min": (
        ("s2",), C.s2_range_min, lambda a: s2.to_signed(s2.range_min(s2.from_signed(a)))
    ),
    "s2_range_max": (
        ("s2",), C.s2_range_max, lambda a: s2.to_signed(s2.range_max(s2.from_signed(a)))
    ),
    "s2_parent": (
        ("s2",),
        lambda c: C.s2_parent(c, 8),
        lambda a: s2.to_signed(s2.parent(s2.from_signed(a), 8)),
    ),
    "h3x_cell": (
        ("lat", "lng"),
        lambda la, ln: C.h3x_cell(la, ln, 12),
        lambda la, ln: h3x.latlng_to_cell(la, ln, 12),
    ),
    "h3x_parent": (("hx",), lambda c: C.h3x_parent(c, 5), lambda a: h3x.parent(a, 5)),
    "h3x_resolution": (("hx",), C.h3x_resolution, h3x.resolution),
    "h3x_kring": (("hx",), lambda c: C.h3x_kring(c, 1), lambda a: h3x.k_ring(a, 1)),
    "h3x_multi_res": (
        ("lat", "lng"),
        lambda la, ln: C.h3x_multi_res(la, ln, 5, 12),
        lambda la, ln: h3x.latlng_to_cells_multi(la, ln, list(range(5, 13))),
    ),
}


@pytest.fixture(scope="module")
def null_mixed_batch(spark):
    """(one-partition frame, valid inputs): valid points on all six S2
    faces, with their level-12 S2 ids (faces 4-5 set bit 63 of the int64
    carrier) and res-12 hex ids (data in the low bits), shuffled among rows
    whose lat or lng is NULL, NaN, +inf or -inf, or whose lat lies past a
    pole (±95°, -265°: the kernels wrap them onto (85, 190)'s cell), and
    whose ids are NULL."""
    rng = np.random.RandomState(12)
    lat = np.r_[rng.uniform(-89, 89, 64), 0.0, -89.0]
    lng = np.r_[rng.uniform(-180, 180, 64), -90.0, 0.0]
    s2ids = s2.to_signed(s2.latlng_to_cell(lat, lng, 12))
    hxids = h3x.latlng_to_cell(lat, lng, 12)
    assert (s2ids < 0).any() and (s2ids > 0).any()
    assert len(np.unique(s2.from_signed(s2ids) >> np.uint64(61))) == 6
    rows = [(float(a), float(b), int(c), int(d)) for a, b, c, d in zip(lat, lng, s2ids, hxids)]
    for bad in (None, float("nan"), float("inf"), float("-inf")):
        rows += [(bad, 10.0, None, None), (10.0, bad, None, None)]
    rows.append((None, None, None, None))
    rows += [(95.0, 10.0, None, None), (-95.0, 10.0, None, None), (-265.0, 10.0, None, None)]
    order = rng.permutation(len(rows))
    df = spark.createDataFrame(
        [(int(i), *rows[i]) for i in order],
        "id int, lat double, lng double, s2 bigint, hx bigint",
    ).coalesce(1)
    return df, {"lat": lat, "lng": lng, "s2": s2ids, "hx": hxids}


@pytest.mark.parametrize("name", list(CELL_FUNCTIONS))
def test_null_bearing_cell_batch_keeps_ids_bit_exact(null_mixed_batch, name):
    """Every cell function on one Arrow batch mixing valid rows with NULL,
    NaN and ±inf inputs and latitudes past a pole: valid rows are bit-exact
    against the numpy kernel, bad rows are NULL (r4: a NaN through the int
    casts made a valid-looking corner cell; ADVICE r5: one NULL id flipped a
    pandas batch to float64 and rounded every other id). Column names work
    as well as Columns."""
    from pyspark.sql import functions as F

    df, valid = null_mixed_batch
    cols, fn, kernel = CELL_FUNCTIONS[name]
    got = df.select(
        "id", fn(*(F.col(c) for c in cols)).alias("by_col"), fn(*cols).alias("by_name")
    ).collect()
    want = kernel(*(valid[c] for c in cols))
    n_valid = len(want)
    assert len(got) == n_valid + 12
    for r in got:
        assert r["by_col"] == r["by_name"], r
        if r["id"] >= n_valid:
            assert r["by_col"] is None, r
        elif want.ndim == 2:
            assert r["by_col"] == [int(x) for x in want[r["id"]]], r
        else:
            assert r["by_col"] == int(want[r["id"]]), r


def test_knn_coordinate_rule_keeps_exactly_the_rows_with_a_cell(spark):
    """The kNN operators' row predicate (``_on_globe``) keeps a row exactly
    when the cell layer gives it an s2 and an h3x cell: NULL, NaN and ±inf
    in either column and a latitude past a pole are dropped; lat exactly
    ±90 and a longitude outside ±180 are kept."""
    from pyspark.sql import functions as F

    nan, inf = float("nan"), float("inf")
    rows = [
        (0, 47.0, 8.0), (1, 90.0, 10.0), (2, -90.0, -170.0), (3, 10.0, 370.0),
        (4, -10.0, -540.0), (5, None, 8.0), (6, 47.0, None), (7, nan, 8.0),
        (8, 47.0, nan), (9, inf, 8.0), (10, -inf, 8.0), (11, 47.0, inf),
        (12, 47.0, -inf), (13, 90.000001, 10.0), (14, -90.000001, 10.0),
        (15, 95.0, 10.0), (16, None, None),
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lng double")
    got = df.select(
        "id", C._on_globe("lat", "lng").alias("keep"),
        C.s2_cell(F.col("lat"), F.col("lng"), 30).isNotNull().alias("s2"),
        C.h3x_cell(F.col("lat"), F.col("lng"), 9).isNotNull().alias("h3x"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert bool(r["keep"]) == r["s2"] == r["h3x"], r
    assert sorted(r["id"] for r in got if r["keep"]) == [0, 1, 2, 3, 4]


def test_assign_cells_and_fused_kernel_share_one_null_mask(spark, tmp_path):
    """assign_cells and the fused tile kernel give the same cells on one
    centroid batch: bit-exact against the numpy kernels for finite
    centroids (faces 4 and 5 included), NULL for NaN/±inf affine tags, for
    a centroid past the pole and for a missing file's NULL centroid."""
    from pyspark.sql import functions as F

    from cog3pio_spark.fixtures.polygons import polygons_df
    from cog3pio_spark.functions.geo import EARTH_RADIUS_M
    from cog3pio_spark.operators.assign import assign_cells
    from cog3pio_spark.operators.decode import decode_tiles
    from cog3pio_spark.operators.tile_kernel import fused_decode_assign_pip
    from cog3pio_spark.tiff.writer import write_tiff

    def world(deg):
        return float(np.radians(deg) * EARTH_RADIUS_M)

    tiepoints = {
        "face0": (world(10.0), world(40.0)),
        "face4": (world(-90.0), world(2.0)),
        "face5": (world(30.0), world(-80.0)),
        "nan": (float("nan"), float("nan")),
        "inf": (float("inf"), world(10.0)),
        "neginf": (world(10.0), float("-inf")),
        "past_pole": (world(10.0), world(95.0)),
    }
    refs = []
    for name, (x, y) in tiepoints.items():
        p = str(tmp_path / f"{name}.tif")
        write_tiff(
            p, np.arange(64, dtype=np.uint8).reshape(1, 8, 8),
            pixel_scale=(1.0, 1.0), tiepoint=(0, 0, 0, x, y, 0),
        )
        refs.append(("file://" + p,))
    refs.append(("file:///nonexistent/missing.tif",))
    df = spark.createDataFrame(refs, ["media_ref"]).coalesce(1)
    fused = {r["media_ref"]: r for r in fused_decode_assign_pip(df, polygons_df(spark, 4)).collect()}
    assigned = {
        r["media_ref"]: r
        for r in assign_cells(decode_tiles(df).filter(F.col("status") == "ok")).collect()
    }
    assert len(fused) == len(refs) and len(assigned) == len(refs) - 1
    for ref, r in fused.items():
        name = ref.rsplit("/", 1)[1][:-4]
        if name.startswith("face"):
            lat = np.degrees(np.array([r["centroid_y"]]) / EARTH_RADIUS_M)
            lng = np.degrees(np.array([r["centroid_x"]]) / EARTH_RADIUS_M)
            s2id = int(s2.to_signed(s2.latlng_to_cell(lat, lng, 12))[0])
            hexes = [int(c) for c in h3x.latlng_to_cells_multi(lat, lng, list(range(5, 13)))[0]]
            assert int(s2.from_signed(np.array([s2id]))[0] >> np.uint64(61)) == int(name[-1])
            assert (r["s2_cell"], r["hex_cells"]) == (s2id, hexes), name
        else:
            assert r["s2_cell"] is None and r["hex_cells"] is None, name
        if name != "missing":
            a = assigned[ref]
            assert (a["s2_cell"], a["hex_cells"]) == (r["s2_cell"], r["hex_cells"]), name


def test_native_s2_parent_matches_numpy_all_levels(spark):
    """``functions.cells.s2_parent`` (a native bitwise expression) equals
    ``cells.s2.parent`` bit for bit at every level 0-30, over random valid
    ids of every level on all six faces (faces 4-5 are negative on the
    int64 carrier), and keeps NULL as NULL."""
    from pyspark.sql import functions as F

    from cog3pio_spark.functions import cells as C

    rng = np.random.RandomState(2024)
    n = 600
    face = rng.randint(0, 6, n).astype(np.uint64)
    level = rng.randint(0, 31, n).astype(np.uint64)
    pos = rng.randint(0, 2**62, n, dtype=np.int64).astype(np.uint64) >> np.uint64(1)
    lsb = np.uint64(1) << (np.uint64(2) * (np.uint64(30) - level))
    # position bits above the level's lsb, then the lsb marker
    ids = (face << np.uint64(61)) | (pos & ~((lsb << np.uint64(1)) - np.uint64(1))) | lsb
    assert np.all(s2.level_of(ids) == level.astype(np.int64))
    signed = s2.to_signed(ids)
    assert (signed < 0).sum() > 0  # faces 4-5 reach the sign bit
    rows = [(i, int(c)) for i, c in enumerate(signed)] + [(n, None), (n + 1, None)]
    df = spark.createDataFrame(rows, "i int, cell bigint").repartition(3)
    got = df.select(
        "i", *[C.s2_parent(F.col("cell"), lvl).alias(f"p{lvl}") for lvl in range(31)]
    ).collect()
    by_i = {r["i"]: r for r in got}
    assert len(by_i) == n + 2
    for lvl in range(31):
        exp = s2.to_signed(s2.parent(ids, lvl))
        col = np.array([by_i[i][f"p{lvl}"] for i in range(n)], dtype=np.int64)
        np.testing.assert_array_equal(col, exp, err_msg=f"level {lvl}")
        assert by_i[n][f"p{lvl}"] is None and by_i[n + 1][f"p{lvl}"] is None
    with pytest.raises(ValueError, match="S2 level"):
        C.s2_parent(F.col("cell"), 31)
