"""Flagship spatial-join + tile-assignment pipeline.

    docs → posexplode(arrays_zip(spans.kind, spans.media_ref))
         → filter(kind='media')                               doc_media_refs
         → groupBy(media_ref): span count + HLL doc sketch
         → repartition → fused decode + cell assign + PIP     flagship_enriched
           (ONE mapInArrow, operators/tile_kernel.py; the
           per-ref stats ride through as passthrough columns)
         → filter(polygon_id NOT NULL) → groupBy(polygon_id)  flagship_aggregate

Shuffle inventory (SURVEY §3.4 node boundaries):
  1. groupBy(media_ref)   — the only shuffle over the span table; map-side
                            partial agg collapses each task to ≤ |distinct
                            refs| narrow rows first
  2. repartition          — round-robin over the distinct refs, so the
                            decode spreads over every core
  3. groupBy(polygon_id)  — partial agg map-side, tiny shuffle

Scale-critical plan property: decode and the PIP theta-join run over
*distinct tiles* (O(distinct media_refs)), never over spans — containment
depends only on the tile geometry, so each tile is decoded and tested once
and its span statistics arrive pre-aggregated. The Python/Arrow boundary
carries O(tiles) narrow rows, and no verdict is joined back to the span
table. Only the polygon pack is broadcast; at 10^12 docs with ~10^7
distinct refs the ref side still streams through map tasks.

Span-side bytes: the scan reads only ``doc_id``, ``spans.kind`` and
``spans.media_ref`` (``media_spans``' ``fields`` projection lets nested
pruning drop ``text`` and ``offset`` from the parquet ReadSchema), and the
per-ref aggregate hashes each doc id once, before the explode, instead of
once per media span inside the typed HLL aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cog3pio_spark.operators.tile_kernel import fused_decode_assign_pip


SPAN_FIELDS = ("kind", "text", "media_ref", "offset")
# what every media-span consumer reads: the scan skips text and offset
MEDIA_FIELDS = ("kind", "media_ref")


def media_spans(
    docs: DataFrame,
    carry: tuple[str, ...] = ("doc_id",),
    fields: tuple[str, ...] = SPAN_FIELDS,
) -> DataFrame:
    """posexplode preserving span order: ``(*carry, pos, *fields)``,
    ``carry`` being the doc columns kept on each span and ``fields`` the
    span subfields the caller reads (default: all four).

    The package's one span explode: batch (``doc_media_refs``, and through
    it ``ref_span_stats``) and streaming (streaming/ingest.py) consumers
    all select from it. It explodes ``arrays_zip`` of one
    ``GetArrayStructFields`` per named field (``spans.kind``, ...), because
    that is the shape Catalyst's nested-schema pruning sees through: the
    parquet ReadSchema keeps only ``fields``. A posexplode of the whole
    ``spans`` struct cannot be pruned here — Spark prunes a Generate's
    input only when a single nested field is read, and the media consumers
    read two — so it would read and decode ``text`` on every span.
    Generate is codegen'd while HOF lambdas are interpreted (2.25s vs 9.6s
    on 72M spans for the filter/transform formulation — do not "fix" this
    with F.transform: it measured 7.6s AND still read text). Row-for-row
    the zip equals the struct explode: a NULL or empty ``spans`` gives no
    row, a NULL span gives one row of NULL fields (tests/test_pipeline.py
    pins both against an inline posexplode oracle).
    """
    zipped = F.arrays_zip(*(F.col(f"spans.{f}").alias(f) for f in fields))
    return docs.select(*carry, F.posexplode(zipped).alias("pos", "span")).select(
        *carry, "pos", *(F.col(f"span.{f}").alias(f) for f in fields)
    )


def doc_media_refs(docs: DataFrame, carry: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """``(*carry, media_ref)`` — one row per media span, read through the
    pruned two-field explode; ``(doc_id, media_ref)`` by default."""
    return (
        media_spans(docs, carry, fields=MEDIA_FIELDS)
        .filter(F.col("kind") == "media")
        .select(*carry, "media_ref")
    )


def ref_span_stats(docs: DataFrame) -> DataFrame:
    """``(media_ref, ref_spans, doc_sketch)`` — per media ref, its span
    count and an lgK=10 HLL sketch of the docs citing it.

    The doc id is hashed once per doc, ahead of the explode, and the span
    rows carry that long instead of the id string. The sketch input is the
    same ``xxhash64(doc_id)`` a per-span hash would give, so the sketch
    bytes equal that shape's (pinned in tests/test_pipeline.py)."""
    hashed = docs.select(F.xxhash64("doc_id").alias("doc_hash"), "spans")
    return doc_media_refs(hashed, ("doc_hash",)).groupBy("media_ref").agg(
        F.count("*").alias("ref_spans"),
        F.hll_sketch_agg("doc_hash", F.lit(10)).alias("doc_sketch"),
    )


def flagship_enriched(docs: DataFrame, polygons: DataFrame) -> DataFrame:
    """The flagship's enriched intermediate: one row per (media_ref,
    polygon) carrying decode stats + cell assignments + pre-aggregated span
    stats (``ref_span_stats``). Exposed (r5) so jobs needing BOTH the
    per-polygon aggregate and the per-tile sink run the expensive
    decode+assign+PIP kernel ONCE (localCheckpoint and derive both) instead
    of once per consumer — run_flagship.py previously decoded every tile
    twice per submission."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return fused_decode_assign_pip(ref_span_stats(docs).repartition(par), polygons)


def flagship_aggregate(enriched: DataFrame) -> DataFrame:
    """Per-polygon rollup over `flagship_enriched` output (the flagship's
    tail; factored r5 for single-kernel-execution jobs)."""
    return (
        enriched.filter(F.col("polygon_id").isNotNull())
        .groupBy("polygon_id")
        .agg(
            F.sum("ref_spans").alias("n_spans"),
            F.hll_sketch_estimate(F.hll_union_agg("doc_sketch")).alias("n_docs"),
            F.count("*").alias("n_tiles"),  # exact: one row per (ref, polygon)
            F.sum(F.col("mean") * F.col("ref_spans")).alias("sum_tile_mean"),
        )
    )


def flagship_pipeline(docs: DataFrame, polygons: DataFrame) -> DataFrame:
    """Docs → per-polygon tile/doc counts, the end-to-end spine (SURVEY M1).

    Plan shape (scale rationale in the module docstring):
      * span side: ONE pass over (doc_id, spans.kind, spans.media_ref),
        one posexplode (``media_spans``; text and offset are pruned from
        the scan), the doc id hashed once per doc;
      * ref side: per-ref span count + HLL sketch (one shuffle on one
        narrow key) → repartition (AQE would coalesce the tiny ref set to 1
        partition and serialize the decode — Amdahl) → fused
        decode+assign+PIP kernel: a single Python stage for the whole tile
        branch;
      * final partial-agg shuffle is tiny.
    """
    # ONE pass + ONE shuffle over the span table inside flagship_enriched:
    # pre-aggregate per media_ref (count + HLL doc sketch). Map-side partial
    # agg collapses every task to ≤ |distinct refs| rows before the shuffle;
    # the polygon fan-out then happens on O(refs) rows instead of O(spans) —
    # at 40M docs this removed a ~290M-row join→agg (the span×polygon
    # blow-up) from the plan. Pre-aggregated stats ride THROUGH the fused
    # kernel (passthrough columns), so the verdict needs no downstream join
    # and per_ref has a single consumer — one scan, one shuffle, one Python
    # stage. (Earlier two-consumer designs either scanned the span table
    # twice — column pruning blocks exchange reuse — or needed a persist()
    # that Spark's plan-cache would leak across jobs.) sketch lgK=10 → ~1 KB
    # sketches (±3.3% doc-count error), 4× less shuffle than default.
    # no orderBy: global sort adds a range-sampling job per run; callers
    # that need canonical order (golden tests) sort the tiny result.
    return flagship_aggregate(flagship_enriched(docs, polygons))
