"""kNN: ring join must equal brute force where the ring covers k-NN."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cog3pio_spark.operators.knn import knn_brute, knn_join


@pytest.fixture(scope="module")
def clustered(spark):
    """Dense clustered points: k-th NN well inside one res-6 cell ring."""
    rng = np.random.RandomState(21)
    centers = [(47.0, 8.0), (47.3, 8.4), (46.8, 7.9)]
    pts = []
    for cx, cy in centers:
        pts.append(
            np.stack(
                [rng.normal(cx, 0.05, 200), rng.normal(cy, 0.05, 200)], axis=1
            )
        )
    pts = np.concatenate(pts)
    points = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        ["point_id", "lat", "lng"],
    )
    queries = spark.createDataFrame(
        [(j, float(pts[j * 37][0]), float(pts[j * 37][1])) for j in range(12)],
        ["query_id", "lat", "lng"],
    )
    return queries, points


def test_ring_knn_matches_brute(clustered):
    queries, points = clustered
    ring = knn_join(queries, points, k=5, res=6, ring=2)
    brute = knn_brute(queries, points, k=5)
    a = {(r["query_id"], r["rank"], r["point_id"]) for r in ring.collect()}
    b = {(r["query_id"], r["rank"], r["point_id"]) for r in brute.collect()}
    assert a == b
    assert len(a) == 12 * 5


def test_exactness_certificate_is_sound(spark, clustered):
    """Certified-exact queries must match brute force (no false positives);
    clustered data should certify most queries."""
    queries, points = clustered
    cert = knn_join(queries, points, k=5, res=6, ring=2, with_certificate=True)
    rows = cert.collect()
    brute = {
        (r["query_id"], r["rank"]): r["point_id"]
        for r in knn_brute(queries, points, k=5).collect()
    }
    certified = [r for r in rows if r["exact"]]
    assert certified, "no query certified on dense clustered data"
    for r in certified:
        assert brute[(r["query_id"], r["rank"])] == r["point_id"]
    # adversarial: far-away query in an empty region → brute fallback path,
    # still certified (exact by construction)
    far = spark.createDataFrame([(999, -40.0, 100.0)], ["query_id", "lat", "lng"])
    fr = knn_join(far, points, k=2, res=6, ring=1, with_certificate=True).collect()
    assert all(r["exact"] for r in fr)


def test_exactness_certificate_sound_at_face_edge(spark):
    """A query hugging the cube-face edge (lng=45 between S2 faces 0/1) whose
    TRUE nearest neighbors lie just across the edge: k-rings truncate at face
    boundaries, so the ring join only sees same-face points. Pre-fix the
    certificate bound ignored the edge and certified the wrong rows; the
    edge-capped bound must leave this query uncertified (or certified AND
    matching brute force)."""
    # measured at res 6 near lng=45: un-capped ring bound = 751 m, so the
    # same-face kth (~445 m) certifies pre-fix; the cross-face points are
    # closer (239..306 m) and invisible to the truncated k-ring.
    query = spark.createDataFrame([(1, 0.0, 44.998)], ["query_id", "lat", "lng"])
    pts = []
    # 5 same-face points, 222..445 m west — inside ring-2 coverage
    for i in range(1, 6):
        pts.append((100 + i, 0.0, 44.998 - 0.002 - 0.0005 * (i - 1)))
    # 5 cross-face points, just across lng=45 — closer than same-face ranks 2+
    for i in range(1, 6):
        pts.append((200 + i, 0.0, 45.0 + 0.00015 * i))
    points = spark.createDataFrame(pts, ["point_id", "lat", "lng"])
    cert = knn_join(query, points, k=5, res=6, ring=2, with_certificate=True)
    rows = cert.collect()
    brute = {
        (r["query_id"], r["rank"]): r["point_id"]
        for r in knn_brute(query, points, k=5).collect()
    }
    for r in rows:
        if r["exact"]:
            assert brute[(r["query_id"], r["rank"])] == r["point_id"], (
                "false certificate at face edge: certified row disagrees "
                f"with brute force ({r})"
            )


def test_sort_merge_knn_recall(clustered):
    """Curve-order kNN: high recall vs brute force on clustered data."""
    from cog3pio_spark.operators.knn import knn_sort_merge

    queries, points = clustered
    sm = knn_sort_merge(queries, points, k=5, scan_width=96)
    brute = knn_brute(queries, points, k=5)
    a = {(r["query_id"], r["point_id"]) for r in sm.collect()}
    b = {(r["query_id"], r["point_id"]) for r in brute.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.9, recall


def test_sort_merge_partitioned_equals_single_bucket(clustered, monkeypatch):
    """Ghost-row boundary duplication: bucketed execution must produce the
    IDENTICAL result as one global bucket (VERDICT r1 fix #2). The default
    bucket count on these 612 rows is min(8 shuffle partitions, 612 // 128)
    = 4; ``cuts=[]`` is one bucket."""
    from cog3pio_spark.operators.knn import knn_sort_merge

    queries, points = clustered
    asked = []
    orig = type(queries).approxQuantile

    def spy(self, col, probabilities, relative_error):
        asked.append(len(probabilities))
        return orig(self, col, probabilities, relative_error)

    monkeypatch.setattr(type(queries), "approxQuantile", spy)
    one = knn_sort_merge(queries, points, k=5, scan_width=32, cuts=[])
    many = knn_sort_merge(queries, points, k=5, scan_width=32)
    assert asked == [3]
    a = {(r["query_id"], r["rank"], r["point_id"]) for r in one.collect()}
    b = {(r["query_id"], r["rank"], r["point_id"]) for r in many.collect()}
    assert a == b
    assert len(b) == 12 * 5


def test_sort_merge_stat_hints_skip_jobs_same_output(clustered):
    """VERDICT r2 #4: callers with table stats pass total_rows=/cuts= and the
    operator must (a) produce the identical result and (b) run neither the
    count nor the approxQuantile preparatory job when cuts are supplied."""
    from unittest import mock

    from cog3pio_spark.operators.knn import knn_sort_merge

    queries, points = clustered
    base = knn_sort_merge(queries, points, k=5, scan_width=32)
    a = {(r["query_id"], r["rank"], r["point_id"]) for r in base.collect()}

    # derive the same cuts the stat path would compute, then supply them
    total = queries.count() + points.count()
    hinted = knn_sort_merge(queries, points, k=5, scan_width=32, total_rows=total)
    b = {(r["query_id"], r["rank"], r["point_id"]) for r in hinted.collect()}
    assert a == b

    # unbalanced cuts whose interior buckets still hold >= scan_width rows
    # (or are edge-empty) stay CORRECT — ghosts repair adjacent boundaries;
    # a THIN MIDDLE bucket would shrink frames (documented precondition).
    # With cuts supplied, count/approxQuantile are never called.
    with mock.patch.object(
        type(queries), "count", side_effect=AssertionError("count() called despite cuts hint")
    ):
        cut_run = knn_sort_merge(
            queries, points, k=5, scan_width=32, cuts=[0, 1 << 61]
        )
        c = {(r["query_id"], r["rank"], r["point_id"]) for r in cut_run.collect()}
    assert a == c


def test_sort_merge_kernel_not_single_partition(clustered):
    """The neighborhood scan must run per-bucket — no global single-task
    Exchange SinglePartition feeding it (the round-1 scale-killer). r6: the
    neighborhood is a FlatMapGroupsInPandas kernel grouped by _bucket, so
    the guard pins that node and its grouping exchange rather than the
    removed rowsBetween window. The kernel's top-k cut is final, so no
    Window partitioned by query_id sits after it."""
    from cog3pio_spark.operators.knn import knn_sort_merge

    queries, points = clustered
    sm = knn_sort_merge(queries, points, k=5, scan_width=32)
    sm.collect()
    plan = sm._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "Window [" not in plan.split("FlatMapGroupsInPandas")[0]
    assert "hashpartitioning(query_id" not in plan
    # the kernel's grouping exchange must hash-partition by _bucket, and no
    # SinglePartition exchange may sit near the kernel or any window
    for i, line in enumerate(plan.splitlines()):
        if "SinglePartition" in line:
            ctx = "\n".join(plan.splitlines()[max(0, i - 3): i + 3])
            assert "Window" not in ctx, f"single-partition window:\n{ctx}"
            assert "FlatMapGroupsInPandas" not in ctx, (
                f"single-partition kernel:\n{ctx}"
            )


def test_sort_merge_nan_coord_does_not_corrupt_bucket(spark, clustered):
    """A NaN-coord point would get a NULL curve key (the r5 NaN-cells fix);
    one such row would make Arrow deliver its whole bucket's _cell batch as
    float64, silently rounding every level-30 carrier in the bucket (and
    pandas sorts NaN last where the JVM sorts NULLS first). _finite_rows
    drops the row before any curve key exists, so valid queries' neighbors
    stay identical; the kernel's integer-dtype guard fails loudly if a NULL
    key ever reaches it."""
    from cog3pio_spark.operators.knn import knn_sort_merge

    queries, points = clustered
    clean = knn_sort_merge(queries, points, k=5, scan_width=32)
    a = {(r["query_id"], r["rank"], r["point_id"]) for r in clean.collect()}
    noisy_points = points.unionByName(
        spark.createDataFrame(
            [(99999, float("nan"), float("nan"))], ["point_id", "lat", "lng"]
        )
    )
    noisy = knn_sort_merge(queries, noisy_points, k=5, scan_width=32)
    b = {(r["query_id"], r["rank"], r["point_id"]) for r in noisy.collect()}
    assert a == b


def test_sort_merge_past_pole_rows_take_part_in_nothing(spark, clustered):
    """A finite latitude past a pole has no cell (the cell layer's pole
    rule), so the sort-merge operator drops it with the NULL and non-finite
    rows: its curve key is the cell layer's own s2_cell, never NULL, the
    past-pole query gets no rows and the valid queries' neighbours stay the
    same. (The raw curve kernel folds (95, 10) onto the id of (85, 190), so
    such a query used to find the past-pole point first.)"""
    from cog3pio_spark.operators.knn import knn_sort_merge

    queries, points = clustered
    clean = knn_sort_merge(queries, points, k=5, scan_width=32)
    a = {(r["query_id"], r["rank"], r["point_id"]) for r in clean.collect()}
    pole_q = queries.unionByName(
        spark.createDataFrame([(999, 95.0, 10.0)], ["query_id", "lat", "lng"]))
    pole_p = points.unionByName(
        spark.createDataFrame([(99999, 95.0, 10.0)], ["point_id", "lat", "lng"]))
    out = knn_sort_merge(pole_q, pole_p, k=5, scan_width=32).collect()
    assert {(r["query_id"], r["rank"], r["point_id"]) for r in out} == a
    assert len(a) == 12 * 5


def test_sparse_queries_fall_back(spark, clustered):
    _, points = clustered
    # a query far from every cluster → phase-1 ring finds nothing → fallback
    faraway = spark.createDataFrame([(99, -30.0, 120.0)], ["query_id", "lat", "lng"])
    out = knn_join(faraway, points, k=3, res=6, ring=1).collect()
    assert len(out) == 3
    brute = knn_brute(faraway, points, k=3).collect()
    assert {(r["rank"], r["point_id"]) for r in out} == {
        (r["rank"], r["point_id"]) for r in brute
    }


def test_certificate_completeness_on_clustered(spark):
    """r4 review: ring_exactness_bound located the ring CENTER by array
    position (it sits at k_ring's (0,0) delta index, not index 0), which
    collapsed the bound ~8x and left almost every provably-exact
    ring-served query uncertified. Completeness pin: on a dense cluster
    with small k, a solid majority of ring-served queries must certify;
    soundness stays pinned by test_exactness_certificate_* (no false
    certificates)."""
    from cog3pio_spark.operators.knn import knn_brute, knn_join

    rng = np.random.RandomState(47)
    lat = 40.0 + rng.rand(600) * 0.08
    lng = 7.0 + rng.rand(600) * 0.08
    points = spark.createDataFrame(
        [(i, float(lat[i]), float(lng[i])) for i in range(600)],
        ["point_id", "lat", "lng"],
    )
    queries = points.filter(F.col("point_id") % 40 == 0).withColumnRenamed(
        "point_id", "query_id"
    )
    out = knn_join(queries, points, k=3, res=7, ring=2, with_certificate=True)
    rows = out.collect()
    certified = {r["query_id"] for r in rows if r["exact"]}
    allq = {r["query_id"] for r in rows}
    assert len(certified) >= len(allq) * 0.6, (len(certified), len(allq))
    # certified results really are exact
    brute = knn_brute(queries, points, k=3)
    exact = {
        (r["query_id"], r["rank"], r["point_id"]) for r in brute.collect()
    }
    got = {
        (r["query_id"], r["rank"], r["point_id"])
        for r in rows
        if r["query_id"] in certified
    }
    assert got <= exact


def test_sort_merge_face_seam_parity(spark):
    """r4 review: ordering by the SIGNED cell carrier put faces 4-5 before
    0-3, inserting an artificial curve seam at the face 3|4 boundary
    (lng ~ -135) where cross-face neighbors fell outside every scan frame.
    With the unsigned curve key, a corpus straddling that boundary matches
    brute force at covering scan_width."""
    from cog3pio_spark.operators.knn import knn_brute, knn_sort_merge

    rng = np.random.RandomState(53)
    lat = -0.04 + rng.rand(400) * 0.08
    lng = -135.06 + rng.rand(400) * 0.12  # straddles lng=-135 (face 3|4)
    points = spark.createDataFrame(
        [(i, float(lat[i]), float(lng[i])) for i in range(400)],
        ["point_id", "lat", "lng"],
    )
    queries = points.filter(F.col("point_id") % 25 == 0).withColumnRenamed(
        "point_id", "query_id"
    )
    sm = knn_sort_merge(queries, points, k=3, scan_width=512)
    bf = knn_brute(queries, points, k=3)
    a = {(r["query_id"], r["rank"], r["point_id"]) for r in sm.collect()}
    b = {(r["query_id"], r["rank"], r["point_id"]) for r in bf.collect()}
    assert a == b


def test_ring_tiers_mixed_in_one_call(spark, monkeypatch):
    """One knn_join call serves a dense-cluster query from its base ring, a
    query whose points sit in a sparse annulus (outside ring 2, inside ring
    6) from the 3× ring, and an isolated query by brute force — and equals
    knn_brute. The encoded points hold every ring-6 cell, so the kernel
    itself drops the ring-6 rows the base-ring queries skip. Ring distances
    come from numpy and brute ones from the JVM: ids and ranks must match
    exactly, distances to a relative 1e-12."""
    from cog3pio_spark.operators import knn

    rng = np.random.RandomState(5)
    dense = [(i, 10.0 + rng.rand() * 0.05, 20.0 + rng.rand() * 0.05) for i in range(200)]
    annulus = [
        (1000 + i, float(30.0 + 0.15 * np.cos(i)), float(40.0 + 0.15 * np.sin(i)))
        for i in range(8)
    ]
    points = spark.createDataFrame(
        dense + annulus + [(5000, -50.0, -60.0)], ["point_id", "lat", "lng"]
    )
    queries = spark.createDataFrame(
        [(1, 10.02, 20.02), (2, 10.03, 20.01), (3, 30.0, 40.0), (4, -20.0, 150.0)],
        ["query_id", "lat", "lng"],
    )
    widths = {}
    search = knn._search

    def spy(encoded, qids, qtype, probes, *a, **kw):
        widths.update(zip(qids.tolist(), [len(p) for p in probes]))
        return search(encoded, qids, qtype, probes, *a, **kw)

    monkeypatch.setattr(knn, "_search", spy)
    out = knn.knn_join(queries, points, k=4, res=6, ring=2, with_certificate=True).collect()
    # ring 2 holds 19 cells, ring 6 holds 127; query 4 never reaches the core
    assert widths == {1: 19, 2: 19, 3: 127}
    want = {tuple(r)[:3]: r["dist_m"] for r in knn_brute(queries, points, k=4).collect()}
    got = {tuple(r)[:3]: r["dist_m"] for r in out}
    assert got.keys() == want.keys() and len(want) == 16
    assert all(got[key] == pytest.approx(d, rel=1e-12) for key, d in want.items())
    assert all(r["exact"] for r in out if r["query_id"] == 4)


@pytest.mark.parametrize("op", ["knn_brute", "knn_join", "knn_sort_merge"])
def test_null_or_nonfinite_coords_never_become_neighbours(spark, clustered, op):
    """A point with a NULL, NaN or infinite coordinate has no distance to
    anything, so it is never a neighbour (a NULL distance sorts first: such
    a point used to come back as rank 1 for every brute-served query), and
    a query at such a coordinate gets no rows. A latitude past a pole is
    one too: it has no cell (the cell layer's pole rule), and a query at
    (95, 10) used to find a point there as rank 1. knn_join's far query
    (999) is brute-served; the sort-merge frame covers the whole curve."""
    from cog3pio_spark.operators import knn

    queries, points = clustered
    kw = {
        "knn_brute": {},
        "knn_join": {"res": 6, "ring": 1},
        "knn_sort_merge": {"scan_width": 1024, "cuts": []},
    }[op]
    bad_points = spark.createDataFrame(
        [(900, None, None), (901, float("nan"), 8.0), (902, 47.0, float("inf")),
         (903, 95.0, 10.0)],
        "point_id long, lat double, lng double",
    )
    far = spark.createDataFrame([(999, -40.0, 100.0)], "query_id long, lat double, lng double")
    bad_queries = spark.createDataFrame(
        [(-1, None, None), (-2, float("nan"), float("nan")), (-3, float("-inf"), 8.0),
         (-4, 95.0, 10.0), (-5, -95.0, 10.0)],
        "query_id long, lat double, lng double",
    )
    fn = getattr(knn, op)
    clean = fn(queries.unionByName(far), points, k=3, **kw).collect()
    noisy = fn(
        queries.unionByName(far).unionByName(bad_queries),
        points.unionByName(bad_points), k=3, **kw,
    ).collect()
    assert sorted(map(tuple, noisy)) == sorted(map(tuple, clean))
    assert len(clean) == 13 * 3 and all(r["dist_m"] is not None for r in clean)


def test_knn_join_empty_or_all_null_queries(spark, clustered):
    """No finite query: an empty frame with the usual schema, no error."""
    _, points = clustered
    schema = "query_id long, lat double, lng double"
    want = "struct<query_id:bigint,rank:int,point_id:bigint,dist_m:double"
    for queries in (
        spark.createDataFrame([], schema),
        spark.createDataFrame([(1, None, None), (2, float("nan"), 0.0)], schema),
    ):
        plain = knn_join(queries, points, k=3, res=6, ring=1)
        cert = knn_join(queries, points, k=3, res=6, ring=1, with_certificate=True)
        assert plain.collect() == [] and cert.collect() == []
        assert plain.schema.simpleString() == want + ">"
        assert cert.schema.simpleString() == want + ",exact:boolean>"


def test_knn_join_refuses_bulk_query_sets(clustered, monkeypatch):
    """knn_join collects its query batch; a set over MAX_QUERIES raises and
    points to knn_sort_merge, the large-query-side path."""
    from cog3pio_spark.operators import knn

    queries, points = clustered
    monkeypatch.setattr(knn, "MAX_QUERIES", 11)
    with pytest.raises(ValueError, match="knn_sort_merge"):
        knn.knn_join(queries, points, k=3, res=6, ring=1)


def _in_job_group(spark, fn):
    """(fn(), its Spark job ids): ``fn`` runs in a fresh job group."""
    import uuid

    sc = spark.sparkContext
    tag = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(tag, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(tag)


def test_query_batch_collect_is_one_job(spark):
    """The guarded query collect is one Spark job on a multi-partition query
    set (``take`` ran a scale-up series: 2 jobs for these 15 rows in 4
    partitions) and still refuses a set over the limit."""
    from cog3pio_spark.operators.probe import _collect_query_batch

    q = spark.createDataFrame([(i, float(i)) for i in range(15)], "query_id long, lat double")
    assert q.rdd.getNumPartitions() == 4
    rows, jobs = _in_job_group(spark, lambda: _collect_query_batch(q, ["query_id", "lat"], 15, ""))
    assert sorted(rows) == [(i, float(i)) for i in range(15)]
    assert len(jobs) == 1
    with pytest.raises(ValueError, match="max_queries=14"):
        _collect_query_batch(q, ["query_id", "lat"], 14, "")


def test_knn_brute_spreads_a_single_split_points_input(spark, clustered, tmp_path):
    """knn_brute scores its cross join in defaultParallelism tasks when the
    points arrive as one file in one partition (q20's customer table); the
    whole product used to run in a single task."""
    queries, points = clustered
    points.coalesce(1).write.parquet(str(tmp_path / "points"))
    one = spark.read.parquet(str(tmp_path / "points"))
    assert one.rdd.getNumPartitions() == 1
    rows, jobs = _in_job_group(spark, lambda: knn_brute(queries.coalesce(1), one, k=3).collect())
    want = knn_brute(queries, points, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))
    st = spark.sparkContext.statusTracker()
    tasks = [st.getStageInfo(s).numTasks for j in jobs for s in st.getJobInfo(j).stageIds]
    assert max(tasks) == spark.sparkContext.defaultParallelism


def test_spread_small_scan_decides_from_the_plan(spark):
    """spread_small_scan runs no Spark job: a frame that already holds an
    exchange comes back unchanged (reading its partition count ran the
    exchange's map stage under AQE), and a one-split scan is spread to
    defaultParallelism partitions."""
    from cog3pio_spark.session import spread_small_scan

    shuffled = spark.range(0, 1000, 1, 1).repartition(4)
    out, jobs = _in_job_group(spark, lambda: spread_small_scan(shuffled))
    assert out is shuffled and len(jobs) == 0
    one = spark.range(0, 1000, 1, 1)
    out, jobs = _in_job_group(spark, lambda: spread_small_scan(one))
    par = spark.sparkContext.defaultParallelism
    assert len(jobs) == 0
    assert f"RoundRobinPartitioning({par})" in out._jdf.queryExecution().executedPlan().toString()


def test_sort_merge_row_floor_binds_over_shuffle_partitions(spark, clustered, monkeypatch):
    """The total // _BUCKET_ROWS_TARGET bucket floor bounds the rows one
    pandas kernel task holds, so it binds over a smaller shuffle partition
    count."""
    from cog3pio_spark.operators import knn

    queries, points = clustered
    monkeypatch.setattr(knn, "_BUCKET_ROWS_TARGET", 100)  # 612 rows → floor 6, cap 4
    asked = []
    orig = type(queries).approxQuantile

    def spy(self, col, probabilities, relative_error):
        asked.append(len(probabilities))
        return orig(self, col, probabilities, relative_error)

    monkeypatch.setattr(type(queries), "approxQuantile", spy)
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        out = knn.knn_sort_merge(queries, points, k=5, scan_width=32)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    assert asked == [3]
    single = knn.knn_sort_merge(queries, points, k=5, scan_width=32, cuts=[])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, single.collect()))


def test_q21_job_budget(spark):
    """q21 (ring kNN on the sf0.01 customer points) runs at most 9 Spark
    jobs: the query take, the cell histogram and the brute tier — every
    query on that near-uniform corpus is short at ring 2 and at ring 6, so
    the ring search is skipped (the phase-by-phase form ran 26)."""
    import os

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 test data not present")
    rows, jobs = _in_job_group(spark, lambda: E.queries()["q21_knn_ring"](spark, sf).collect())
    assert len(rows) == 15 * 5
    assert len(jobs) <= 9


def test_q43_job_budget(spark):
    """q43 (sort-merge kNN on the sf0.01 customer points) runs at most 11
    Spark jobs: the union checkpoint, the count, the quantile cuts and the
    bucketed kernel. Its kernel cuts each query to k, with no rank window
    after it."""
    import os

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("sf0.01 test data not present")
    rows, jobs = _in_job_group(
        spark, lambda: E.queries()["q43_knn_sort_merge"](spark, sf).collect())
    assert len(rows) == 24
    assert len(jobs) <= 11
