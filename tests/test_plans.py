"""Physical-plan hygiene: pushdown/pruning evidence and the no-per-row-Python
contract across every operator family (input_hint + SURVEY §4.2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cell_range_partition_pruning(spark, tmp_path):
    """Parquet partitioned by cell prefix + range predicate ⇒ the scan reads
    only matching partitions (partition pruning in the file index)."""
    from cog3pio_spark.cells import s2

    rng = np.random.RandomState(9)
    lat, lng = rng.uniform(-60, 60, 2000), rng.uniform(-170, 170, 2000)
    cells = s2.to_signed(s2.latlng_to_cell(lat, lng, 12))
    prefixes = s2.to_signed(s2.parent(s2.from_signed(cells), 3))
    df = spark.createDataFrame(
        [(int(c), int(p)) for c, p in zip(cells, prefixes)], ["s2_cell", "prefix"]
    )
    out = str(tmp_path / "cells")
    df.write.partitionBy("prefix").parquet(out)

    target = int(prefixes[0])
    got = spark.read.parquet(out).filter(F.col("prefix") == target)
    got.collect()
    plan = _plan(got)
    # file-source partition pruning reflected in the scan node
    n_total = len(set(prefixes.tolist()))
    assert f"{n_total}" != "1"
    assert got.rdd.getNumPartitions() <= 4  # pruned to a sliver of the files
    want = sum(1 for p in prefixes.tolist() if p == target)
    assert got.count() == want


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").filter(
        F.col("l_quantity") < 5.0
    ).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)" in plan
    # column pruning: ReadSchema carries only the two projected columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_flagship_shuffle_inventory(spark, tmp_path):
    """flagship_pipeline's initial physical plan holds exactly the module
    docstring's inventory: three exchanges — hashpartitioning(media_ref),
    round-robin, hashpartitioning(polygon_id) — one posexplode over spans
    and one Python stage, the fused tile kernel's MapInArrow."""
    import re

    from cog3pio_spark.fixtures.docs import interleaved_docs
    from cog3pio_spark.fixtures.polygons import polygons_df
    from cog3pio_spark.plans.flagship import flagship_pipeline

    p = str(tmp_path / "docs")
    interleaved_docs(spark, 200, ["file:///a.tif", "file:///b.tif"]).write.parquet(p)
    plan = _plan(flagship_pipeline(spark.read.parquet(p), polygons_df(spark, 4)))

    assert plan.count("Exchange ") == 3, plan
    # printed top-down: the polygon rollup's shuffle first
    assert re.findall(r"Exchange (hashpartitioning\(\w+|RoundRobinPartitioning)", plan) == [
        "hashpartitioning(polygon_id",
        "RoundRobinPartitioning",
        "hashpartitioning(media_ref",
    ], plan
    assert re.findall(r"Generate (\w+)\((\w+)", plan) == [("posexplode", "spans")], plan
    python_nodes = re.findall(r"\b(\w*(?:Python|InPandas|InArrow)\w*)\b", plan)
    assert python_nodes == ["MapInArrow"], plan


@pytest.mark.parametrize(
    "build",
    [
        "dedupe_minhash",
        "dedupe_simhash",
        "ann_brute",
        "knn_ring",
        "text_features",
        "flagship",
        "sink",
    ],
)
def test_no_per_row_python_anywhere(spark, build):
    """No operator family may plan a row-at-a-time Python UDF."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    if build == "dedupe_minhash":
        from cog3pio_spark.operators.dedupe import minhash_lsh_dupes

        df = minhash_lsh_dupes(docs.limit(50))
    elif build == "dedupe_simhash":
        from cog3pio_spark.operators.dedupe import simhash_dupes

        df = simhash_dupes(docs.limit(50))
    elif build == "ann_brute":
        from cog3pio_spark.operators.ann import brute_force_topk

        q = emb.limit(1).collect()
        df = brute_force_topk(emb, [(q[0]["vec_id"], list(q[0]["embedding"]))], k=3)
    elif build == "knn_ring":
        from cog3pio_spark.operators.knn import knn_join

        pts = spark.createDataFrame(
            [(i, 40.0 + i * 0.01, 7.0) for i in range(50)], ["point_id", "lat", "lng"]
        )
        qs = spark.createDataFrame([(0, 40.1, 7.0)], ["query_id", "lat", "lng"])
        df = knn_join(qs, pts, k=3, res=6, ring=1)
    elif build == "flagship":
        from cog3pio_spark.fixtures.docs import interleaved_docs
        from cog3pio_spark.fixtures.polygons import polygons_df
        from cog3pio_spark.plans.flagship import flagship_enriched

        df = flagship_enriched(
            interleaved_docs(spark, 50, ["file:///a.tif"]), polygons_df(spark, 4)
        )
    elif build == "sink":
        # jobs/run_flagship.py's sink: range partitions by cell, keyed by
        # the cell's S2 parent, over the checkpointed enriched frame
        from cog3pio_spark.fixtures.docs import interleaved_docs
        from cog3pio_spark.fixtures.polygons import polygons_df
        from cog3pio_spark.functions import cells as C
        from cog3pio_spark.operators.assign import range_partition_by_cell
        from cog3pio_spark.plans.flagship import flagship_enriched

        enriched = flagship_enriched(
            interleaved_docs(spark, 50, ["file:///a.tif"]), polygons_df(spark, 4)
        ).localCheckpoint(eager=True)
        tiles = range_partition_by_cell(enriched, 4, cell_col="s2_cell")
        df = tiles.withColumn("part_key", C.s2_parent(F.col("s2_cell"), 8))
    else:
        from cog3pio_spark.operators.text import text_features

        df = text_features(docs.limit(50))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, build
    if build == "sink":
        assert "ArrowEvalPython" not in plan, plan  # the sink runs no Python
    if build == "flagship":
        assert "MapInArrow" in plan  # the whole tile path is one Arrow map
