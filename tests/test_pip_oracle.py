"""The polygon layer's one pack, grid and exact pass against the row-loop
oracle (tests/pip_oracle.py), plus the polygon contract both operators
share: an invalid polygon row is never packed, and ``pip_join`` and the
fused tile kernel agree on every layer."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

import pip_oracle
from cog3pio_spark.fixtures.polygons import polygon_schema
from cog3pio_spark.operators.pip_join import _pack_layer, _pip_candidates

_PT = pa.struct([("x", pa.float64()), ("y", pa.float64())])
_BOX = pa.struct([(k, pa.float64()) for k in ("xmin", "ymin", "xmax", "ymax")])
_LAYER = pa.schema([
    ("polygon_id", pa.string()),
    ("ring", pa.list_(_PT)),
    ("bbox", _BOX),
    ("holes", pa.list_(pa.list_(_PT))),
])


def _ring(cx, cy, radii, phase):
    ang = phase + 2 * np.pi * np.arange(len(radii)) / len(radii)
    pts = [{"x": float(cx + r * np.cos(a)), "y": float(cy + r * np.sin(a))} for r, a in zip(radii, ang)]
    return pts + [pts[0]]


def _layer(n: int, seed: int) -> pa.Table:
    """Seeded convex, star and holed polygons over [0, 100]², overlapping."""
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        cx, cy = rng.uniform(0, 100, 2)
        r = rng.uniform(1, 12)
        k = rng.randint(3, 12)
        kind = i % 3
        if kind == 1:  # star: alternating radii, nonconvex
            radii = np.where(np.arange(2 * k) % 2 == 0, r, r * rng.uniform(0.2, 0.8))
        else:
            radii = np.full(k, r)
        ring = _ring(cx, cy, radii, rng.uniform(0, 2 * np.pi))
        holes = None
        if kind == 2:  # 1-2 holes inside the convex ring (or an empty list)
            holes = [
                _ring(cx + dx, cy, np.full(rng.randint(3, 7), r / 5), rng.uniform(0, 2 * np.pi))
                for dx in (-r / 3, r / 3)[: rng.randint(0, 3)]
            ]
        xs, ys = [p["x"] for p in ring], [p["y"] for p in ring]
        box = {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)}
        rows.append({"polygon_id": f"p{i}", "ring": ring, "bbox": box, "holes": holes})
    return pa.Table.from_pylist(rows, schema=_LAYER)


def _points(pack: dict, seed: int):
    """Random points, every vertex, every edge midpoint, the layer extent
    and its ±1-ulp neighbours, NaN and ±inf."""
    rng = np.random.RandomState(seed)
    x, y = pack["x"], pack["y"]
    x0, y0, x1, y1 = pack["bxmin"].min(), pack["bymin"].min(), pack["bxmax"].max(), pack["bymax"].max()
    ex = [v for e in (x0, x1) for v in (np.nextafter(e, -np.inf), e, np.nextafter(e, np.inf))]
    ey = [v for e in (y0, y1) for v in (np.nextafter(e, -np.inf), e, np.nextafter(e, np.inf))]
    mx, my = (x0 + x1) / 2, (y0 + y1) / 2
    bad = [np.nan, np.inf, -np.inf]
    px = np.concatenate([rng.uniform(-5, 105, 4000), x, (x[:-1] + x[1:]) / 2,
                         ex, np.full(6, mx), bad, [mx] * 3, bad])
    py = np.concatenate([rng.uniform(-5, 105, 4000), y, (y[:-1] + y[1:]) / 2,
                         np.full(6, my), ey, [my] * 3, bad, bad[::-1]])
    return px, py


@pytest.mark.parametrize("n", [1, 16, 300, 1024])
def test_pack_and_pairs_match_row_loop_oracle(n):
    layer = _layer(n, seed=n)
    pack = _pack_layer(layer)
    want = pip_oracle.pack_rows(layer.to_pylist(), has_holes=True)
    want.update(pip_oracle.build_grid(want, n))
    assert pack["ids"].to_pylist() == want["ids"].tolist()
    for k in ("x", "y", "eok", "offs", "bxmin", "bymin", "bxmax", "bymax", "grid_polys", "grid_start"):
        assert pack[k].dtype == want[k].dtype, k
        np.testing.assert_array_equal(pack[k], want[k], err_msg=k)
    assert pack["grid"] == want["grid"]

    px, py = _points(pack, seed=n + 1)
    got_pt, got_pg = _pip_candidates(px, py, pack)
    want_pt, want_pg = pip_oracle.pip_candidates(px, py, want)
    assert len(want_pt) > 2 * n
    np.testing.assert_array_equal(got_pt, want_pt)
    np.testing.assert_array_equal(got_pg, want_pg)


def _square(pid, x0, y0, holes=None, s=1.0):
    ring = [{"x": x, "y": y} for x, y in
            [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]]
    return (pid, ring, {"xmin": x0, "ymin": y0, "xmax": x0 + s, "ymax": y0 + s}, holes)


def _contract_layer(spark, case):
    """Four valid unit squares sq0..sq3 side by side on x in [0, 4], plus
    the case's invalid row on x in [4, 5] (or the case's whole layer)."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(f.name, f.dataType, True)
                           for f in polygon_schema(with_holes=True).fields])
    rows = [_square(f"sq{i}", float(i), 0.0) for i in range(4)]
    if case == "empty_layer":
        return spark.createDataFrame([], schema)
    if case == "long_ids":
        schema = T.StructType([T.StructField("polygon_id", T.LongType(), True), *schema.fields[1:]])
        return spark.createDataFrame([(i, *r[1:]) for i, r in enumerate(rows)], schema)
    bad = {
        "null_id": (None, *_square("x", 4.0, 0.0)[1:]),
        "null_ring": ("bad", None, *_square("x", 4.0, 0.0)[2:]),
        "null_bbox": ("bad", _square("x", 4.0, 0.0)[1], None, None),
        "nan_hole_vertex": _square("bad", 4.0, 0.0, holes=[[
            {"x": 4.2, "y": 0.2}, {"x": 4.4, "y": 0.2}, {"x": float("nan"), "y": 0.4},
            {"x": 4.2, "y": 0.2}]]),
    }[case]
    return spark.createDataFrame(rows + [bad], schema)


@pytest.mark.parametrize(
    "case", ["null_id", "null_ring", "null_bbox", "nan_hole_vertex", "long_ids", "empty_layer"]
)
def test_polygon_contract_pip_join_and_fused_kernel_agree(spark, tmp_path, case):
    """An invalid polygon row (NULL id, ring or bbox, a non-finite hole
    vertex) is never packed; integer ids come out as their decimal text;
    an empty layer yields no pairs. ``pip_join`` and the fused tile kernel
    give the same polygon ids over the same points, and neither raises."""
    from pyspark.sql import functions as F

    from cog3pio_spark.operators.decode import decode_tiles
    from cog3pio_spark.operators.pip_join import pip_join
    from cog3pio_spark.operators.tile_kernel import fused_decode_assign_pip
    from cog3pio_spark.tiff.writer import write_tiff

    polys = _contract_layer(spark, case)
    refs = []
    for i, cx in enumerate([0.5, 1.5, 3.5, 4.5, 4.3]):  # 8×8 px of 0.01 → centroid (cx, 0.5)
        p = str(tmp_path / f"t{i}.tif")
        write_tiff(p, np.arange(64, dtype=np.uint8).reshape(1, 8, 8), pixel_scale=(0.01, 0.01),
                   tiepoint=(0, 0, 0, cx - 0.04, 0.54, 0))
        refs.append(("file://" + p,))
    refs = spark.createDataFrame(refs, ["media_ref"]).coalesce(1)
    fused = fused_decode_assign_pip(refs, polys).collect()
    assert len({r["media_ref"] for r in fused}) == 5 and all(r["status"] == "ok" for r in fused)
    fused_ids = {(r["media_ref"], r["polygon_id"]) for r in fused if r["polygon_id"] is not None}
    joined = pip_join(decode_tiles(refs).filter(F.col("status") == "ok"), polys)
    joined_ids = {(r["media_ref"], r["polygon_id"]) for r in joined.collect()}
    assert fused_ids == joined_ids
    want = {"empty_layer": set(), "long_ids": {"0", "1", "3"}}.get(case, {"sq0", "sq1", "sq3"})
    assert {pid for _, pid in joined_ids} == want


def test_exact_pass_memory_is_bounded_by_the_slice_budget():
    """One 20,000-vertex star probed by 5,000 candidate points is 10^8
    (pair, edge) rows: the exact pass works through them in fixed slices
    under a 1 GiB address-space cap, with a tracemalloc peak under 128 MB
    (a (points × vertices) float64 array alone would be 800 MB)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    env = {**os.environ, "PYTHONPATH": path, "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1"}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--star"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["hits"] > 0 and out["peak"] < 128 * 2**20, out


def _star_probe() -> dict:
    import tracemalloc

    k = 10_000  # 20,000 vertices, alternating radii
    ang = 2 * np.pi * np.arange(2 * k) / (2 * k)
    rad = np.where(np.arange(2 * k) % 2 == 0, 10.0, 9.0)
    ring = [{"x": float(r * np.cos(a)), "y": float(r * np.sin(a))} for r, a in zip(rad, ang)]
    ring.append(ring[0])
    layer = pa.Table.from_pylist(
        [{"polygon_id": "star", "ring": ring, "bbox": {"xmin": -10.0, "ymin": -10.0, "xmax": 10.0, "ymax": 10.0},
          "holes": None}], schema=_LAYER)
    pack = _pack_layer(layer)
    rng = np.random.RandomState(11)
    px, py = rng.uniform(-10, 10, 5000), rng.uniform(-10, 10, 5000)
    tracemalloc.start()
    pt, _ = _pip_candidates(px, py, pack)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    return {"hits": len(pt), "peak": peak}


if __name__ == "__main__" and sys.argv[1:] == ["--star"]:
    import resource

    resource.setrlimit(resource.RLIMIT_AS, (1 << 30, 1 << 30))
    print(json.dumps(_star_probe()))
