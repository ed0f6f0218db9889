"""AvailableNow streaming ingest over the interleaved-doc table.

Batch/stream parity by construction: every span consumer here selects from
plans/flagship.py::media_spans, the one span explode batch uses too, so a
row that flows through the stream and the same row processed in batch
produce identical span rows (checked against independent inline explodes
in tests/test_streaming.py). Late data is handled with a watermark on the
ingest timestamp; counts use tumbling windows. Every query drains with
``Trigger.AvailableNow`` (``_drain``); the foreachBatch pipelines write one
idempotent partition per epoch (``_epoch_sink``).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from cog3pio_spark.plans.flagship import MEDIA_FIELDS, flagship_pipeline, media_spans


def doc_stream_schema() -> T.StructType:
    span = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
    return T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("spans", T.ArrayType(span)),
            T.StructField("ingest_ts", T.TimestampType()),
        ]
    )


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` with ``Trigger.AvailableNow``: process every file
    available now, exactly once per checkpoint, and return when drained."""
    writer.option("checkpointLocation", checkpoint_dir).trigger(
        availableNow=True
    ).start().awaitTermination()


def _epoch_sink(
    stream: DataFrame,
    build: Callable[[DataFrame], DataFrame | None],
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain ``stream`` through foreachBatch, writing ``build(micro_batch)``
    (``None``: nothing to write) as partition ``_epoch=<epoch id>`` of
    ``out_dir``. The sink is IDEMPOTENT per epoch: dynamic partition
    overwrite makes a batch replayed after a crash-between-write-and-commit
    overwrite its own partition instead of appending duplicates
    (foreachBatch alone is only at-least-once)."""

    def _batch(df: DataFrame, epoch_id: int) -> None:
        out = build(df)
        if out is None:
            return
        # overwrite mode scoped to the write (ADVICE r2: a session-level
        # conf mutation would silently change later static overwrites)
        (
            out.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_dir)
        )

    _drain(stream.writeStream.foreachBatch(_batch), checkpoint_dir)


def available_now_ingest(
    spark: SparkSession, input_dir: str, checkpoint_dir: str, out_dir: str
) -> None:
    """Drain all currently-available doc files exactly once, writing media
    spans to parquet. Re-running resumes from the stream checkpoint —
    streaming-native lineage complementing the batch manifest.

    SINK SCHEMA NOTE (r5): the constant 'kind' column was dropped from the
    output. Resuming into a sink directory written by a pre-r5 version
    mixes schemas — read such sinks with mergeSchema=true (or start a
    fresh sink dir), otherwise footer-inference may resolve the OLD schema
    and new files read kind=null, silently failing kind=='media' filters."""
    stream = (
        spark.readStream.schema(doc_stream_schema())
        .format("parquet")
        .load(input_dir)
    )
    spans = (
        media_spans(stream, carry=("doc_id", "ingest_ts"), fields=MEDIA_FIELDS)
        .filter(F.col("kind") == "media")
        .select("doc_id", "ingest_ts", "pos", "media_ref")
    )
    _drain(spans.writeStream.format("parquet").option("path", out_dir), checkpoint_dir)


def first_seen_media_refs(
    docs_stream: DataFrame, checkpoint_dir: str, out_dir: str
) -> None:
    """Stateful streaming dedupe: emit each media_ref exactly once across
    ALL micro-batches (custom stateful operator via applyInPandasWithState —
    SURVEY §2.B UDF surface / task-brief streaming-state path).

    State per media_ref: a seen flag + first-seen count. Unlike
    dropDuplicates-in-stream (state grows unbounded with watermark quirks),
    the handler owns its state shape and could evict by custom policy.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    spans = (
        media_spans(docs_stream, carry=(), fields=MEDIA_FIELDS)
        .filter(F.col("kind") == "media")
        .select("media_ref")
    )

    out_schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("first_batch_rows", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.LongType())])

    def handler(key, pdfs, state: GroupState):
        if state.exists:
            # already emitted: NO state write (r4 review — accumulating a
            # never-read running count paid a state-store write for the
            # hottest refs in every micro-batch, pure dead churn on exactly
            # the Zipf keys that dominate batches)
            return iter(())
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"media_ref": [key[0]], "first_batch_rows": [n]})

    deduped = spans.groupBy("media_ref").applyInPandasWithState(
        handler, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    _drain(
        deduped.writeStream.format("parquet").option("path", out_dir).outputMode("append"),
        checkpoint_dir,
    )


def windowed_media_counts(docs_stream: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window media-span counts (late data ≤ 1 window)."""
    spans = media_spans(docs_stream, carry=("ingest_ts",), fields=MEDIA_FIELDS).filter(
        F.col("kind") == "media"
    )
    return (
        spans.withWatermark("ingest_ts", window)
        .groupBy(F.window("ingest_ts", window).alias("win"), "media_ref")
        .agg(F.count("*").alias("n_spans"))
    )


def streaming_flagship(
    docs_stream: DataFrame,
    polygons: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Continuous ingest of the FLAGSHIP pipeline (r3): each micro-batch of
    interleaved docs runs the exact batch operator chain — span explode →
    media_ref pre-agg + HLL doc sketches → fused decode/assign/PIP kernel →
    per-polygon rollup — via foreachBatch against the static polygon layer.

    Output is one per-polygon aggregate row set PER EPOCH, written by
    ``_epoch_sink`` (idempotent per epoch, as streaming_knn). Epoch rows
    are incremental rollups: exactly what the batch pipeline produces on
    that epoch's documents (parity pinned in
    tests/test_streaming.py::test_streaming_flagship_matches_batch).
    Cross-epoch totals are a plain second-stage groupBy for the additive
    columns (n_spans, sum_tile_mean — per-span quantities partition across
    epochs). n_docs AND n_tiles are WITHIN-epoch only: n_docs is the HLL
    estimate (the pipeline emits the estimate, not the sketch), and n_tiles
    counts distinct (media_ref, polygon) rows — a media_ref referenced from
    documents in two epochs is decoded and counted in BOTH, so summing
    per-epoch n_tiles double-counts shared refs (r5 review). Callers
    needing global distinct docs or tiles run the batch pipeline over the
    drained table.
    """
    _epoch_sink(
        docs_stream,
        lambda df: None if df.isEmpty() else flagship_pipeline(df, polygons),
        out_dir,
        checkpoint_dir,
    )


def _query_chunks(df: DataFrame, size: int) -> list[DataFrame]:
    """``df`` as frames of at most ``size`` rows, split in query_id order;
    none for an empty ``df``."""
    n = df.count()
    if n <= size:
        return [df] if n else []
    # a micro-batch of queries is small: one window task numbers it, and
    # the checkpoint fixes the split every chunk reads
    rn = F.row_number().over(Window.orderBy("query_id"))
    part = df.withColumn("_part", F.floor((rn - 1) / size)).localCheckpoint()
    return [part.filter(F.col("_part") == i).drop("_part") for i in range(-(-n // size))]


def streaming_knn(
    query_stream: DataFrame,
    points: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    res: int = 7,
    ring: int = 2,
) -> None:
    """Streaming kNN: each micro-batch of query points runs the SAME ring
    kNN operator as batch (operators/knn.knn_join) against the static point
    table via foreachBatch — exact stream/batch parity by construction
    (top-k-per-query ranking isn't expressible as a pure streaming agg, so
    micro-batch enrichment is the idiomatic shape). knn_join collects its
    queries to pick their tiers, at most MAX_QUERIES of them, so a larger
    micro-batch is served in chunks of that size (``_query_chunks``) and
    written as one epoch. Resume comes from the stream checkpoint, and
    ``_epoch_sink`` makes the sink idempotent per epoch.
    """
    from cog3pio_spark.operators import knn

    def _build(df: DataFrame) -> DataFrame | None:
        chunks = _query_chunks(df, knn.MAX_QUERIES)
        if not chunks:
            return None
        return reduce(
            DataFrame.unionByName,
            (knn.knn_join(c, points, k=k, res=res, ring=ring) for c in chunks),
        )

    _epoch_sink(query_stream, _build, out_dir, checkpoint_dir)
