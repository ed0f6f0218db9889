"""AvailableNow stream ingest: exactly-once drain + batch parity + resume."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cog3pio_spark.streaming.ingest import available_now_ingest, doc_stream_schema


@pytest.fixture()
def doc_files(spark, fixture_refs, tmp_path):
    from cog3pio_spark.fixtures.docs import interleaved_docs

    docs = interleaved_docs(spark, 200, fixture_refs).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.xxhash64("doc_id") % 3600)
    )
    path = str(tmp_path / "stream_in")
    docs.write.parquet(path)
    return path, docs


def test_stateful_first_seen_dedupe(spark, doc_files, tmp_path):
    """applyInPandasWithState emits each media_ref exactly once, across
    restarts (state persisted in the stream checkpoint)."""
    from pyspark.sql import functions as F

    from cog3pio_spark.streaming.ingest import first_seen_media_refs

    input_dir, docs = doc_files
    ckpt = str(tmp_path / "state_ckpt")
    out = str(tmp_path / "state_out")

    stream = (
        spark.readStream.schema(docs.schema).format("parquet").load(input_dir)
    )
    first_seen_media_refs(stream, ckpt, out)
    got = spark.read.parquet(out)
    distinct_refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("s.media_ref")
        .distinct()
        .count()
    )
    assert got.count() == distinct_refs
    assert got.select("media_ref").distinct().count() == distinct_refs

    # restart with same checkpoint: nothing new to emit
    stream2 = (
        spark.readStream.schema(docs.schema).format("parquet").load(input_dir)
    )
    first_seen_media_refs(stream2, ckpt, out)
    assert spark.read.parquet(out).count() == distinct_refs


def test_windowed_media_counts(spark, doc_files, tmp_path):
    """Watermarked tumbling-window counts match the batch equivalent."""
    from pyspark.sql import functions as F

    from cog3pio_spark.streaming.ingest import windowed_media_counts

    input_dir, docs = doc_files
    stream = spark.readStream.schema(docs.schema).format("parquet").load(input_dir)
    agg = windowed_media_counts(stream, window="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select win.start as ws, media_ref, n_spans from wincounts"
    ).collect()
    batch = (
        docs.select("ingest_ts", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .groupBy(
            F.window("ingest_ts", "10 minutes").alias("win"),
            F.col("s.media_ref").alias("media_ref"),
        )
        .agg(F.count("*").alias("n_spans"))
        .select(F.col("win.start").alias("ws"), "media_ref", "n_spans")
        .collect()
    )
    assert {(r["ws"], r["media_ref"], r["n_spans"]) for r in got} == {
        (r["ws"], r["media_ref"], r["n_spans"]) for r in batch
    }
    assert len(got) > 0


def test_available_now_drains_and_resumes(spark, doc_files, tmp_path):
    input_dir, docs = doc_files
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    available_now_ingest(spark, input_dir, ckpt, out)
    got = spark.read.parquet(out)
    expected = (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .filter(F.col("span.kind") == "media")
        .count()
    )
    assert got.count() == expected

    # re-run: checkpoint ⇒ no duplicates (exactly-once drain)
    available_now_ingest(spark, input_dir, ckpt, out)
    assert spark.read.parquet(out).count() == expected

    # batch parity: same rows as the batch explode
    batch = (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .filter(F.col("span.kind") == "media")
        .select("doc_id", "pos", F.col("span.media_ref").alias("media_ref"))
    )
    diff = batch.exceptAll(got.select("doc_id", "pos", "media_ref")).count()
    assert diff == 0


def test_available_now_sink_schema(spark, doc_files, tmp_path):
    """The sink's columns — names, types and order — are its resume
    contract: a run resuming into an existing sink dir must write the same
    schema (see available_now_ingest's SINK SCHEMA NOTE)."""
    input_dir, _ = doc_files
    out = str(tmp_path / "out")
    available_now_ingest(spark, input_dir, str(tmp_path / "ckpt"), out)
    got = [(f.name, f.dataType.simpleString()) for f in spark.read.parquet(out).schema]
    assert got == [
        ("doc_id", "string"),
        ("ingest_ts", "timestamp"),
        ("pos", "int"),
        ("media_ref", "string"),
    ]


def test_streaming_knn_matches_batch(spark, tmp_path):
    """foreachBatch kNN: streamed queries produce EXACTLY the batch ring-kNN
    rows; a checkpoint-resumed second run reprocesses nothing."""
    from cog3pio_spark.operators.knn import knn_join
    from cog3pio_spark.streaming.ingest import streaming_knn

    rng = np.random.RandomState(31)
    pts = np.stack([rng.normal(47, 0.05, 300), rng.normal(8, 0.05, 300)], 1)
    points = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        ["point_id", "lat", "lng"],
    )
    qrows = [(j, float(pts[j * 29][0]), float(pts[j * 29][1])) for j in range(8)]
    qdir = str(tmp_path / "qin")
    spark.createDataFrame(qrows, ["query_id", "lat", "lng"]).write.parquet(qdir)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("query_id long, lat double, lng double").parquet(qdir)
    streaming_knn(stream, points, out, ckpt, k=3, res=6, ring=2)

    got = {
        (r["query_id"], r["rank"], r["point_id"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r["query_id"], r["rank"], r["point_id"])
        for r in knn_join(
            spark.createDataFrame(qrows, ["query_id", "lat", "lng"]),
            points, k=3, res=6, ring=2,
        ).collect()
    }
    assert got == batch and len(batch) == 8 * 3

    # resume: same checkpoint, no new input → no duplicate rows appended
    stream2 = spark.readStream.schema("query_id long, lat double, lng double").parquet(qdir)
    streaming_knn(stream2, points, out, ckpt, k=3, res=6, ring=2)
    assert spark.read.parquet(out).count() == 8 * 3


def test_streaming_knn_serves_a_bulk_micro_batch_in_chunks(spark, tmp_path, monkeypatch):
    """knn_join refuses more than MAX_QUERIES queries; a micro-batch over
    that is served in chunks of MAX_QUERIES and written as one epoch, with
    exactly the batch rows."""
    from cog3pio_spark.operators import knn
    from cog3pio_spark.streaming.ingest import streaming_knn

    rng = np.random.RandomState(37)
    pts = np.stack([rng.normal(47, 0.05, 300), rng.normal(8, 0.05, 300)], 1)
    points = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)],
        ["point_id", "lat", "lng"],
    )
    qrows = [(j, float(pts[j * 29][0]), float(pts[j * 29][1])) for j in range(8)]
    queries = spark.createDataFrame(qrows, "query_id long, lat double, lng double")
    batch = {tuple(r) for r in knn.knn_join(queries, points, k=3, res=6, ring=2).collect()}
    qdir = str(tmp_path / "qin")
    queries.coalesce(1).write.parquet(qdir)  # one file: one micro-batch of 8

    monkeypatch.setattr(knn, "MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="knn_sort_merge"):
        knn.knn_join(queries, points, k=3, res=6, ring=2)
    out = str(tmp_path / "out")
    stream = spark.readStream.schema("query_id long, lat double, lng double").parquet(qdir)
    streaming_knn(stream, points, out, str(tmp_path / "ckpt"), k=3, res=6, ring=2)

    written = spark.read.parquet(out)
    assert {tuple(r) for r in written.drop("_epoch").collect()} == batch
    assert len(batch) == 8 * 3 and written.select("_epoch").distinct().count() == 1


def test_streaming_flagship_matches_batch(spark, fixture_refs, tmp_path):
    """r3: the full flagship pipeline over a doc stream. Two input files →
    two epochs (maxFilesPerTrigger=1); each epoch's per-polygon rollup must
    EXACTLY equal the batch pipeline run on that epoch's documents, and a
    checkpoint-resumed rerun adds nothing (idempotent epoch partitions)."""
    from cog3pio_spark.fixtures.docs import interleaved_docs
    from cog3pio_spark.fixtures.polygons import polygons_df
    from cog3pio_spark.plans.flagship import flagship_pipeline
    from cog3pio_spark.streaming.ingest import streaming_flagship

    polys = polygons_df(spark, 16)
    docs = interleaved_docs(spark, 240, fixture_refs)
    half_a = docs.filter(F.xxhash64("doc_id") % 2 == 0).coalesce(1)
    half_b = docs.filter(F.xxhash64("doc_id") % 2 == 1).coalesce(1)
    indir = str(tmp_path / "docs_in")
    half_a.write.parquet(indir)  # first file
    half_b.write.mode("append").parquet(indir)  # second file

    out = str(tmp_path / "flag_out")
    ckpt = str(tmp_path / "flag_ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    streaming_flagship(stream, polys, out, ckpt)

    got = spark.read.parquet(out)
    epochs = [r["_epoch"] for r in got.select("_epoch").distinct().collect()]
    assert len(epochs) == 2

    def rows(df):
        return {
            (r["polygon_id"], r["n_spans"], r["n_docs"], r["n_tiles"],
             round(r["sum_tile_mean"], 6))
            for r in df.collect()
        }

    # each epoch == batch pipeline on that epoch's docs (order unknown:
    # compare as a multiset of per-epoch row sets)
    stream_sets = sorted(
        (tuple(sorted(rows(got.filter(F.col("_epoch") == e).drop("_epoch")))))
        for e in epochs
    )
    batch_sets = sorted(
        tuple(sorted(rows(flagship_pipeline(h, polys)))) for h in (half_a, half_b)
    )
    assert stream_sets == batch_sets

    # resume: drained checkpoint reprocesses nothing
    n_before = got.count()
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    streaming_flagship(stream2, polys, out, ckpt)
    assert spark.read.parquet(out).count() == n_before
