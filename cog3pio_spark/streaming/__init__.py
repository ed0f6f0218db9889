"""Structured Streaming surface (SURVEY §2.B streaming).

The north_rule's resumability requirement is met by the *batch* partition
manifest (operators/checkpoint.py). This package adds the streaming
variants: a ``Trigger.AvailableNow`` file-source ingest over the
interleaved-doc table with watermarked tumbling-window counts, a stateful
exactly-once media_ref dedupe (``applyInPandasWithState``), and foreachBatch
pipelines that run the batch flagship / kNN operator chains per micro-batch
with idempotent per-epoch partition overwrite. Batch/stream parity holds by
construction: every span consumer selects from the batch span explode,
``plans/flagship.py::media_spans``, and the foreachBatch pipelines call the
batch operators themselves (tests/test_streaming.py checks both against
independent batch computations).
"""

from cog3pio_spark.streaming.ingest import (  # noqa: F401
    available_now_ingest,
    first_seen_media_refs,
    streaming_flagship,
    streaming_knn,
    windowed_media_counts,
)
