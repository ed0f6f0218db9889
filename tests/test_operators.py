"""Operator-level Spark tests: decode stage, cell ops, joins, checkpoint."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cog3pio_spark.operators.assign import assign_cells, compact_cells, uncompact_cells
from cog3pio_spark.operators.decode import decode_tiles
from cog3pio_spark.operators.pip_join import pip_join
from cog3pio_spark.operators.range_join import cell_prefix_range_join


@pytest.fixture(scope="module")
def decoded(spark, fixture_rows):
    refs = spark.createDataFrame(
        [(r["media_ref"],) for r in fixture_rows], ["media_ref"]
    ).dropDuplicates(["media_ref"])
    return decode_tiles(refs).cache()


def test_decode_matches_registry(decoded, fixture_rows):
    got = {r["media_ref"]: r.asDict() for r in decoded.collect()}
    for row in fixture_rows:
        g = got[row["media_ref"]]
        if not row["valid"]:
            assert g["status"] == "error" and g["error_msg"]
            continue
        assert g["status"] == "ok"
        assert g["dtype"] == row["dtype"]
        assert (g["bands"], g["height"], g["width"]) == (
            row["bands"], row["height"], row["width"],
        )
        assert abs(g["mean"] - row["expected_mean"]) < 1e-9
        assert g["pixel_sha256"] == row["pixel_sha256"]


def test_decode_affine_golden(decoded):
    g = [r for r in decoded.collect() if "geo_549x549" in r["media_ref"]][0]
    assert (g["a"], g["b"], g["c"], g["d"], g["e"], g["f"]) == (
        200.0, 0.0, 499_980.0, 0.0, -200.0, 5_300_040.0,
    )
    assert g["centroid_x"] == 499_980.0 + 200.0 * 549 / 2
    assert g["centroid_y"] == 5_300_040.0 - 200.0 * 549 / 2


def test_assign_cells_levels(decoded):
    tiles = assign_cells(decoded.filter(F.col("status") == "ok"))
    rows = tiles.select("s2_cell", "hex_cells").collect()
    from cog3pio_spark.cells import h3x, s2

    for r in rows:
        assert int(s2.level_of(s2.from_signed(np.array([r["s2_cell"]])))[0]) == 12
        assert len(r["hex_cells"]) == 8  # res 5..12
        res = h3x.resolution(np.array(r["hex_cells"]))
        assert list(res) == list(range(5, 13))


def test_compact_uncompact_roundtrip(spark):
    """Complete 7-child sets collapse; uncompact reproduces the input."""
    from cog3pio_spark.cells import h3x

    rng = np.random.RandomState(5)
    base = np.unique(
        h3x.latlng_to_cell(rng.uniform(30, 50, 40), rng.uniform(-10, 20, 40), 7)
    )
    kids = np.unique(h3x.children(base).ravel())  # complete child sets at res 8
    df = spark.createDataFrame([(int(c),) for c in kids], ["cell"])
    compacted = compact_cells(df, res_hi=8, res_lo=5)
    got = {r["cell"] for r in compacted.collect()}
    # all complete sets promoted (possibly further); no res-8 cells remain
    res = h3x.resolution(np.array(sorted(got)))
    assert (res <= 7).all()
    back = {
        r["cell"] for r in uncompact_cells(compacted, target_res=8).collect()
    }
    assert back == {int(c) for c in kids}


def test_pip_join_boundary_cases(spark):
    from cog3pio_spark.fixtures.polygons import polygon_schema

    # unit square polygon
    ring = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    poly = spark.createDataFrame(
        [("sq", [{"x": x, "y": y} for x, y in ring],
          {"xmin": 0.0, "ymin": 0.0, "xmax": 10.0, "ymax": 10.0})],
        polygon_schema(),
    )
    pts = spark.createDataFrame(
        [
            ("inside", 5.0, 5.0),
            ("edge", 0.0, 5.0),        # on edge → contained
            ("corner", 0.0, 0.0),      # corner → contained
            ("outside", -0.1, 5.0),
            ("far", 100.0, 100.0),
        ],
        ["pid", "centroid_x", "centroid_y"],
    )
    got = {r["pid"] for r in pip_join(pts, poly).collect()}
    assert got == {"inside", "edge", "corner"}


def test_pip_join_nonconvex_star(spark):
    """Even-odd ray casting: non-convex star ring, concavities excluded."""
    import math

    from cog3pio_spark.fixtures.polygons import polygon_schema

    ring = []
    for i in range(10):
        r = 10.0 if i % 2 == 0 else 4.0
        a = 2 * math.pi * i / 10
        ring.append((r * math.cos(a), r * math.sin(a)))
    ring.append(ring[0])
    xs, ys = [p[0] for p in ring], [p[1] for p in ring]
    poly = spark.createDataFrame(
        [("star", [{"x": x, "y": y} for x, y in ring],
          {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)})],
        polygon_schema(),
    )
    pts = spark.createDataFrame(
        [
            ("center", 0.0, 0.0),              # inside
            ("spike", 9.0, 0.0),               # inside a spike
            ("concave", 6.0 * math.cos(math.pi / 10) + 0.8, 6.0 * math.sin(math.pi / 10) + 0.8),
            ("outside", 11.0, 11.0),
        ],
        ["pid", "centroid_x", "centroid_y"],
    )
    from cog3pio_spark.operators.pip_join import pip_join

    got = {r["pid"] for r in pip_join(pts, poly).collect()}
    assert "center" in got and "spike" in got and "outside" not in got
    assert "concave" not in got  # point in the bbox but in a concavity


def test_cell_range_join(spark):
    """Range join matches a plain theta join on the same data."""
    from cog3pio_spark.cells import s2

    rng = np.random.RandomState(11)
    lat = rng.uniform(-60, 60, 500)
    lng = rng.uniform(-170, 170, 500)
    cells = s2.to_signed(s2.latlng_to_cell(lat, lng, 12))
    probe = spark.createDataFrame([(int(c),) for c in cells], ["s2_cell"])

    # ranges = level-8 parents of a sample of the points
    parents = s2.parent(s2.latlng_to_cell(lat[:40], lng[:40], 12), 8)
    los = s2.to_signed(s2.range_min(parents))
    his = s2.to_signed(s2.range_max(parents))
    ranges = spark.createDataFrame(
        [(i, int(lo), int(hi)) for i, (lo, hi) in enumerate(zip(los, his))],
        ["range_id", "range_lo", "range_hi"],
    ).dropDuplicates(["range_lo"])

    got = cell_prefix_range_join(probe, ranges, prefix_level=6, n_salt=4)
    expected = probe.join(
        ranges,
        (F.col("s2_cell") >= F.col("range_lo")) & (F.col("s2_cell") <= F.col("range_hi")),
    )
    a = {(r["s2_cell"], r["range_id"]) for r in got.collect()}
    b = {(r["s2_cell"], r["range_id"]) for r in expected.collect()}
    assert a == b and len(a) > 0

    # ADVICE r4: the skew salt hashes only ATOMIC probe columns — a probe
    # carrying a MapType payload must not fail at analysis (xxhash64 cannot
    # hash maps), and adding the unhashable column must not change results
    probe_map = probe.withColumn(
        "payload", F.create_map(F.lit("k"), F.col("s2_cell"))
    )
    got_map = cell_prefix_range_join(probe_map, ranges, prefix_level=6, n_salt=4)
    assert {(r["s2_cell"], r["range_id"]) for r in got_map.collect()} == b
    # explicit salt_cols: caller-pinned bucket assignment also matches
    got_pin = cell_prefix_range_join(
        probe, ranges, prefix_level=6, n_salt=4, salt_cols=["s2_cell"]
    )
    assert {(r["s2_cell"], r["range_id"]) for r in got_pin.collect()} == b


def test_checkpoint_partial_write_recovery(spark, tmp_path):
    """A crash after data files land but BEFORE the manifest row commits
    must re-run that key idempotently (dynamic partition overwrite)."""
    import os

    from cog3pio_spark.operators.checkpoint import (
        data_path,
        read_checkpointed,
        write_checkpointed,
    )

    base = str(tmp_path / "ckpt2")
    df = spark.range(50).select((F.col("id") % 5).alias("part_key"), F.col("id").alias("v"))
    write_checkpointed(df, base)

    # simulate a crashed job: partial data for key 7 exists, no manifest row
    crash_dir = os.path.join(data_path(base), "part_key=7")
    spark.range(3).select((F.col("id") + 900).alias("v")).write.parquet(crash_dir)
    assert spark.read.parquet(data_path(base)).filter(F.col("part_key") == 7).count() == 3

    df2 = spark.range(100, 140).select(
        (F.lit(7)).alias("part_key"), F.col("id").alias("v")
    )
    r = write_checkpointed(df2, base)
    assert r["written_keys"] == 1 and r["skipped_keys"] == 5
    got = read_checkpointed(spark, base).filter(F.col("part_key") == 7)
    vals = {row["v"] for row in got.collect()}
    assert vals == set(range(100, 140))  # garbage partial rows replaced


def test_checkpoint_resume(spark, tmp_path):
    from cog3pio_spark.operators.checkpoint import (
        read_checkpointed,
        write_checkpointed,
    )

    base = str(tmp_path / "ckpt")
    df = spark.range(100).select(
        (F.col("id") % 5).alias("part_key"), F.col("id").alias("v")
    )
    r1 = write_checkpointed(df, base)
    assert r1["written_keys"] == 5 and r1["rows"] == 100
    # resume: same write is a no-op
    r2 = write_checkpointed(df, base)
    assert r2["written_keys"] == 0 and r2["skipped_keys"] == 5
    # new keys only get appended
    df2 = spark.range(100, 140).select(
        (F.col("id") % 7).alias("part_key"), F.col("id").alias("v")
    )
    r3 = write_checkpointed(df2, base)
    assert r3["written_keys"] == 2  # keys 5, 6 are new
    got = read_checkpointed(spark, base)
    assert got.count() == 100 + got.filter(F.col("part_key").isin(5, 6)).count()


def test_checkpoint_string_key_type_preserved(spark, tmp_path):
    """ADVICE r2: string part keys with numeric-looking values ('0012' vs
    '12') must stay distinct strings through the manifest round-trip —
    directory-name type re-inference would collapse both to bigint 12 and
    mis-skip keys on resume."""
    from cog3pio_spark.operators.checkpoint import load_manifest, write_checkpointed

    base = str(tmp_path / "ckpt_str")
    df = spark.createDataFrame(
        [("0012", 1), ("0012", 2), ("12", 3)], ["part_key", "v"]
    )
    r1 = write_checkpointed(df, base)
    assert r1["written_keys"] == 2 and r1["rows"] == 3
    man = load_manifest(spark, base)
    keys = {r["part_key_done"] for r in man.collect()}
    assert keys == {"0012", "12"}  # distinct, still strings
    # resume skips BOTH keys (no string-vs-bigint comparison drift)
    r2 = write_checkpointed(df, base)
    assert r2["written_keys"] == 0 and r2["skipped_keys"] == 2
    # r5: the READ side must also preserve the string key (a plain read
    # re-infers partition dirs and collapses '0012'/'12' into bigint 12)
    from cog3pio_spark.operators.checkpoint import read_checkpointed

    back = read_checkpointed(spark, base)
    assert back.schema["part_key"].dataType.simpleString() == "string"
    assert {r["part_key"] for r in back.select("part_key").distinct().collect()} == {
        "0012", "12",
    }


def test_checkpoint_null_key_raises_on_isin_resume(spark, tmp_path):
    """r5 review: on the ≤10k-key resume branch, ~isin(done) evaluated to
    NULL for NULL keys and silently dropped them from metrics BEFORE the
    loud null-key guard — null keys must raise on EVERY branch."""
    import pytest as _pytest

    from cog3pio_spark.operators.checkpoint import write_checkpointed

    base = str(tmp_path / "ckpt_null")
    ok = spark.createDataFrame([("a", 1), ("b", 2)], ["part_key", "v"])
    assert write_checkpointed(ok, base)["written_keys"] == 2
    with_null = ok.unionByName(
        spark.createDataFrame([(None, 3)], "part_key string, v bigint")
    )
    with _pytest.raises(ValueError, match="NULL values in partition column"):
        write_checkpointed(with_null, base)


def _jobs_after_data_write(spark, monkeypatch, base: str, fn) -> int:
    """Run ``fn()`` and count the Spark jobs it starts after the data write
    to ``data_path(base)`` returns (from the status store, by a job
    description set when that write returns)."""
    import uuid

    from pyspark.sql.readwriter import DataFrameWriter

    from cog3pio_spark.operators.checkpoint import data_path

    sc = spark.sparkContext
    tag = f"after-data-write-{uuid.uuid4().hex}"
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        out = orig(self, path, *a, **k)
        if path == data_path(base):
            sc.setJobDescription(tag)
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    try:
        fn()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    return sum(
        1
        for j in (jobs.apply(i) for i in range(jobs.size()))
        if j.description().isDefined() and j.description().get() == tag
    )


def test_checkpoint_bookkeeping_runs_at_most_two_jobs(spark, tmp_path, monkeypatch):
    """On a fresh base, everything after the data write — the per-key
    counts, the NULL-key check, the manifest append and the totals — costs
    at most 2 Spark jobs: the NULL count and the totals are Observations
    riding on the two writes, and the per-key counts feed the manifest
    write directly."""
    from cog3pio_spark.operators.checkpoint import load_manifest, write_checkpointed

    base = str(tmp_path / "ckpt_jobs")
    df = spark.range(100).select((F.col("id") % 5).alias("part_key"), F.col("id").alias("v"))
    out = {}
    n = _jobs_after_data_write(
        spark, monkeypatch, base, lambda: out.update(write_checkpointed(df, base))
    )
    assert out == {"written_keys": 5, "skipped_keys": 0, "rows": 100}
    man = {r["part_key_done"]: r["n_rows"] for r in load_manifest(spark, base).collect()}
    assert man == {k: 20 for k in range(5)}
    assert 1 <= n <= 2, n


def test_checkpoint_null_key_raises_before_manifest(spark, tmp_path):
    """A NULL key in the input raises after the data write, before any
    manifest row is appended."""
    import pytest as _pytest

    from cog3pio_spark.operators.checkpoint import load_manifest, write_checkpointed

    base = str(tmp_path / "ckpt_null_first")
    df = spark.createDataFrame(
        [(1, 1), (None, 2), (2, 3)], "part_key bigint, v bigint"
    )
    with _pytest.raises(ValueError, match="NULL values in partition column"):
        write_checkpointed(df, base)
    assert load_manifest(spark, base) is None


def test_checkpoint_stale_null_partition_raises(spark, tmp_path):
    """A NULL-key partition directory left by a crashed run is read back as
    written data, so it raises even when this run's input has no NULL key
    (the input-side NULL count cannot see it); no manifest row is added."""
    import os

    import pytest as _pytest

    from cog3pio_spark.operators.checkpoint import (
        data_path,
        load_manifest,
        write_checkpointed,
    )

    base = str(tmp_path / "ckpt_stale_null")
    df = spark.range(20).select((F.col("id") % 2).alias("part_key"), F.col("id").alias("v"))
    assert write_checkpointed(df, base)["written_keys"] == 2
    stale = os.path.join(data_path(base), "part_key=__HIVE_DEFAULT_PARTITION__")
    spark.range(3).select(F.col("id").alias("v")).write.parquet(stale)
    df2 = spark.range(20, 30).select(
        F.lit(5).cast("long").alias("part_key"), F.col("id").alias("v")
    )
    with _pytest.raises(ValueError, match="NULL values in partition column"):
        write_checkpointed(df2, base)
    assert load_manifest(spark, base).count() == 2


def test_checkpoint_many_keys_antijoin_resume(spark, tmp_path, monkeypatch):
    """VERDICT r2 #8: past the isin threshold the done-key exclusion switches
    to a broadcast anti-join — resume over many completed keys must stay
    correct without a literal O(keys) driver predicate. (Threshold lowered
    so the suite exercises the anti-join path at test scale.)"""
    from cog3pio_spark.operators import checkpoint as C

    monkeypatch.setattr(C, "ISIN_PRUNE_MAX_KEYS", 16)
    base = str(tmp_path / "ckpt_many")
    df = spark.range(200).select((F.col("id") % 100).alias("part_key"), F.col("id").alias("v"))
    r1 = C.write_checkpointed(df, base)
    assert r1["written_keys"] == 100 and r1["rows"] == 200
    # resume with 100 done keys (> threshold) + 20 new ones
    df2 = spark.range(240).select((F.col("id") % 120).alias("part_key"), F.col("id").alias("v"))
    r2 = C.write_checkpointed(df2, base)
    assert r2["skipped_keys"] == 100 and r2["written_keys"] == 20
    got = C.read_checkpointed(spark, base)
    assert got.filter(F.col("part_key") >= 100).count() == 40
    assert got.count() == 240


def test_pip_grid_max_extent_matches_oracle(spark):
    """ADVICE r1: a point exactly on the layer's max extent must be contained
    by the grid index exactly like the dense bbox mask of the row-loop
    oracle (tests/pip_oracle.py) — the grid clamps in-extent boundary points
    into the last cell."""
    from pip_oracle import pack_rows, pip_candidates

    from cog3pio_spark.fixtures.polygons import polygon_schema

    def square(pid, x0, y0, s=1.0):
        ring = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
        return (
            pid,
            [{"x": x, "y": y} for x, y in ring],
            {"xmin": x0, "ymin": y0, "xmax": x0 + s, "ymax": y0 + s},
        )

    # 300 unit squares tiling [0,30)x[0,10); global max = (30,10)
    polys = [square(f"p{i:03d}", float(i % 30), float(i // 30)) for i in range(300)]
    poly_df = spark.createDataFrame(polys, polygon_schema())
    pt_rows = [
        ("maxcorner", 30.0, 10.0),   # exactly the global bbox max
        ("maxedge_x", 30.0, 5.5),    # on x max extent
        ("inside", 15.5, 5.5),
        ("beyond", 30.0001, 10.0),   # strictly outside stays rejected
    ]
    pts = spark.createDataFrame(pt_rows, ["pid", "centroid_x", "centroid_y"])
    got = {(r["pid"], r["polygon_id"]) for r in pip_join(pts, poly_df).collect()}
    assert ("maxcorner", "p299") in got     # boundary-inclusive at global max
    assert ("maxedge_x", "p179") in got     # x1 edge of its row's last square
    assert ("inside", "p165") in got
    assert not any(p == "beyond" for p, _ in got)
    # the grid and the oracle's dense mask agree on every point
    oracle = pack_rows([dict(zip(("polygon_id", "ring", "bbox"), p)) for p in polys], has_holes=False)
    px, py = (np.array([r[k] for r in pt_rows]) for k in (1, 2))
    pt, pg = pip_candidates(px, py, oracle)
    assert got == {(pt_rows[i][0], oracle["ids"][j]) for i, j in zip(pt, pg)}

    # r5 review: NaN in EITHER coordinate must be excluded cleanly on the
    # grid path (only px was isfinite-guarded; NaN py reached an undefined
    # float→int64 cast and survived by accident)
    nan_pts = spark.createDataFrame(
        [
            ("nan_y", 15.5, float("nan")),
            ("nan_x", float("nan"), 5.5),
            ("ok", 15.5, 5.5),
        ],
        ["pid", "centroid_x", "centroid_y"],
    )
    nan_got = {(r["pid"], r["polygon_id"]) for r in pip_join(nan_pts, poly_df).collect()}
    assert nan_got == {("ok", "p165")}


def test_pip_grid_non_finite_points_cast_nothing(spark):
    """The grid path computes cells only for points inside the layer
    extent: NaN/±inf coordinates (the fused kernel's error rows) reach no
    float→int64 cast, so no RuntimeWarning, and the pairs equal those of
    the finite points alone."""
    import warnings

    from cog3pio_spark.fixtures.polygons import polygon_schema
    from cog3pio_spark.operators.pip_join import _pip_candidates, pack_polygons

    def square(i):
        x, y = float(i % 30), float(i // 30)
        ring = [(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1), (x, y)]
        bbox = {"xmin": x, "ymin": y, "xmax": x + 1, "ymax": y + 1}
        return f"p{i:03d}", [{"x": u, "y": v} for u, v in ring], bbox

    # 300 unit squares tiling [0,30]x[0,10]
    polys = [square(i) for i in range(300)]
    pack = pack_polygons(spark.createDataFrame(polys, polygon_schema()))
    assert "grid" in pack

    rng = np.random.RandomState(3)
    # finite points in, on the edge of and around the layer extent
    fx = np.concatenate([rng.uniform(-2, 32, 400), [0.0, 30.0, -1e-9, 30.0 + 1e-9]])
    fy = np.concatenate([rng.uniform(-2, 12, 400), [0.0, 10.0, 5.0, 5.0]])
    inf = np.inf
    bad = [(np.nan, 5.5), (inf, 5.5), (-inf, 5.5), (5.5, np.nan), (5.5, inf),
           (5.5, -inf), (np.nan, np.nan), (inf, -inf), (-inf, inf)]
    bx, by = np.array(bad).T
    px = np.concatenate([bx[:6], fx, bx[6:]])
    py = np.concatenate([by[:6], fy, by[6:]])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got_pt, got_pg = _pip_candidates(px, py, pack)
        want_pt, want_pg = _pip_candidates(fx, fy, pack)
    assert len(want_pt) > 200
    np.testing.assert_array_equal(got_pt, want_pt + 6)  # finite rows start at 6
    np.testing.assert_array_equal(got_pg, want_pg)


def test_pip_join_polygon_with_holes(spark):
    """Donut polygon: points in the hole are NOT contained; points in the
    ring body are; points exactly on the hole boundary are (inclusive)."""
    from cog3pio_spark.fixtures.polygons import polygon_schema

    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)]
    poly = spark.createDataFrame(
        [(
            "donut",
            [{"x": x, "y": y} for x, y in outer],
            {"xmin": 0.0, "ymin": 0.0, "xmax": 10.0, "ymax": 10.0},
            [[{"x": x, "y": y} for x, y in hole]],
        )],
        polygon_schema(with_holes=True),
    )
    pts = spark.createDataFrame(
        [
            ("in_hole", 5.0, 5.0),
            ("in_body", 2.0, 2.0),
            ("on_hole_edge", 4.0, 5.0),
            ("on_outer_edge", 0.0, 5.0),
            ("right_of_hole", 8.0, 5.0),   # ray from here misses the hole
            ("left_of_hole", 2.0, 5.0),    # ray crosses hole edges twice
            ("outside", 11.0, 5.0),
        ],
        ["pid", "centroid_x", "centroid_y"],
    )
    got = {r["pid"] for r in pip_join(pts, poly).collect()}
    assert got == {"in_body", "on_hole_edge", "on_outer_edge",
                   "right_of_hole", "left_of_hole"}


def test_pip_join_holes_backward_compatible(spark):
    """Layers without a holes column keep the exact round-1 behavior."""
    from cog3pio_spark.fixtures.polygons import make_polygon_rows, polygon_schema

    poly = spark.createDataFrame(make_polygon_rows(20), polygon_schema())
    pts = spark.createDataFrame(
        [("a", 500000.0, 5300000.0), ("b", 99.0, 99.0)],
        ["pid", "centroid_x", "centroid_y"],
    )
    pip_join(pts, poly).collect()  # no schema errors, hole-free pack path


def test_decode_tiles_range_read_window(spark, tmp_path):
    """r3 range-read decode operator: window + range_read fetches only the
    header and intersecting tile ranges (fetched_bytes ≪ file size), and the
    windowed stats equal the numpy crop exactly. Unsupported schemes fall
    back to whole-object fetch with identical window semantics."""
    import os

    import numpy as np

    from cog3pio_spark.operators.decode import decode_tiles
    from cog3pio_spark.tiff.writer import write_tiff

    # big enough that the 64 KB header block is a sliver of the file
    # (random bytes ⇒ deflate keeps ~all of the 512·512 = 262 KB payload)
    rng = np.random.RandomState(7)
    arr = (rng.rand(1, 512, 512) * 255).astype("uint8")
    p = str(tmp_path / "rr.tif")
    write_tiff(p, arr, tiled=True, tile_size=16, compression="deflate")
    fsize = os.path.getsize(p)

    refs = spark.createDataFrame([("file://" + p,)], ["media_ref"])
    win = (3, 5, 40, 29)
    out = decode_tiles(refs, window=win, range_read=True).collect()[0]
    crop = arr[:, 5:29, 3:40].astype(np.float64)
    assert out["status"] == "ok"
    assert (out["height"], out["width"]) == (24, 37)
    assert abs(out["mean"] - crop.mean()) < 1e-12
    assert out["fetched_bytes"] is not None and out["fetched_bytes"] < fsize // 3

    # whole-object fallback (range_read=False) gives the same window stats
    full = decode_tiles(refs, window=win).collect()[0]
    assert full["fetched_bytes"] is None
    assert full["mean"] == out["mean"] and full["pixel_sha256"] == out["pixel_sha256"]


def test_pip_join_polygon_guard(spark):
    """r4 collect-census: the broadcast polygon pack refuses an oversized
    layer BEFORE collecting (bounded probe), directing callers to split."""
    import pytest as _pytest

    from cog3pio_spark.fixtures.polygons import polygons_df
    from cog3pio_spark.operators.pip_join import pack_polygons

    polys = polygons_df(spark, 16)
    with _pytest.raises(ValueError, match="max_polygons"):
        pack_polygons(polys, max_polygons=4)
    assert len(pack_polygons(polys)["ids"]) == 16  # normal path unchanged
