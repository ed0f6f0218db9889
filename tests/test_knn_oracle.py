"""Sort-merge kNN kernel vs the former per-query frame loop.

``knn._frame_topk`` scores each query's curve frame in numpy and cuts it to
k inside the kernel; tests/knn_oracle.py keeps the loop it replaced,
followed by the haversine and row-number rank that used to run on the JVM.
Seeded buckets cover ghost rows at both ends, buckets thinner than
``scan_width``, many rows in one cell, runs of adjacent queries, exact
distance ties, string and long ids, and pair slices smaller than one
query's frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cog3pio_spark.operators import knn
from knn_oracle import frames, ranked


def _bucket(rng, own, n_cells, q_frac, ghosts, string_ids):
    """One kernel input: ``own`` rows between ``ghosts`` ghost rows at each
    end (copies of the adjacent buckets' edge rows), over ``n_cells`` curve
    keys, a ``q_frac`` share of them queries (in runs), coordinates on a
    0.001° grid so that distances tie."""
    n = own + 2 * ghosts
    cells = np.sort(rng.randint(0, n_cells, n)).astype(np.int64) * 7919 - (1 << 62)
    run = rng.randint(1, 4, n)
    isq = np.repeat(rng.rand(n) < q_frac, run)[:n]
    ids = np.empty(n, dtype=np.int64)
    ids[isq] = rng.permutation(10 * n)[: isq.sum()]
    ids[~isq] = rng.permutation(10 * n)[: (~isq).sum()]
    ghost = np.zeros(n, dtype=bool)
    ghost[:ghosts] = ghost[n - ghosts:] = True
    pdf = pd.DataFrame({
        "_id": [f"id{i:06d}" for i in ids] if string_ids else ids,
        "_is_q": isq,
        "lat": np.round(47.0 + rng.rand(n) * 0.05, 3),
        "lng": np.round(8.0 + rng.rand(n) * 0.05, 3),
        "_cell": cells,
        "_bucket": np.zeros(n, dtype=np.int32),
        "_ghost": ghost,
    })
    return pdf.sample(frac=1.0, random_state=rng).reset_index(drop=True)


CASES = {
    # name: (own rows, scan_width, cells, query share, ghost rows per end)
    "ghosts": (400, 16, 300, 0.1, 16),
    "thin": (12, 32, 40, 0.3, 32),
    "thin_one_side": (9, 32, 30, 0.4, 5),
    "single_bucket": (150, 16, 100, 0.2, 0),
    "one_cell": (300, 16, 1, 0.2, 16),
    "adjacent_queries": (200, 8, 150, 0.6, 8),
    "queries_only": (40, 8, 30, 1.0, 0),
    "points_only": (40, 8, 30, 0.0, 8),
}


@pytest.mark.parametrize("string_ids", [False, True], ids=["long", "string"])
@pytest.mark.parametrize("chunk", [1 << 16, 40], ids=["chunk64k", "chunk40"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_frame_topk_matches_the_frame_loop(monkeypatch, case, chunk, string_ids):
    """Identical (query_id, rank, point_id) and dist_m within 1e-9 relative,
    over ten seeded buckets per case. ``chunk`` 40 cuts every frame of
    ``scan_width`` ≥ 8 into slices of one or two queries."""
    own, sw, n_cells, q_frac, ghosts = CASES[case]
    monkeypatch.setattr(knn, "PAIR_CHUNK", chunk)
    for seed in range(10):
        rng = np.random.RandomState(1000 * seed + own)
        pdf = _bucket(rng, own, n_cells, q_frac, ghosts, string_ids)
        for k in (1, 3, 2 * sw + 5):
            want = ranked(frames(pdf, sw, "query_id", "point_id"), k, "query_id", "point_id")
            got = knn._frame_topk(pdf, sw, k, "query_id", "point_id")
            assert list(got.columns) == ["query_id", "rank", "point_id", "dist_m"]
            got = got.sort_values(["query_id", "rank"])
            want = want.sort_values(["query_id", "rank"])
            assert len(got) == len(want)
            for c in ("query_id", "rank", "point_id"):
                assert got[c].tolist() == want[c].tolist(), (case, seed, k, c)
            np.testing.assert_allclose(got["dist_m"], want["dist_m"], rtol=1e-9, atol=0)


def test_sort_merge_string_ids_match_long_ids(spark):
    """The kernel emits string ids through the same Arrow schema as long
    ones: zero-padded string ids keep the long ids' order, so the ranked
    rows are the same ones."""
    rng = np.random.RandomState(3)
    lat, lng = 40.0 + rng.rand(300) * 0.05, 7.0 + rng.rand(300) * 0.05
    rows = [(i, float(lat[i]), float(lng[i])) for i in range(300)]

    def run(key):
        points = spark.createDataFrame([(key(i), a, b) for i, a, b in rows],
                                       ["point_id", "lat", "lng"])
        queries = points.filter(points.lat > 40.04).withColumnRenamed("point_id", "query_id")
        return knn.knn_sort_merge(queries, points, k=4, scan_width=16).collect()

    longs = sorted(map(tuple, run(int)))
    strings = sorted((int(q), r, int(p), d) for q, r, p, d in map(tuple, run("{:05d}".format)))
    assert longs == strings and len(longs) > 0
