"""Flagship spatial-join + tile-assignment pipeline.

    docs → posexplode(spans) → filter(kind='media')          doc_media_refs
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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cog3pio_spark.operators.tile_kernel import fused_decode_assign_pip


def media_spans(docs: DataFrame, carry: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """posexplode preserving span order: ``(*carry, pos, kind, text,
    media_ref, offset)``, ``carry`` being the doc columns kept on each span.

    The package's one span explode: batch (``doc_media_refs``) and
    streaming (streaming/ingest.py) consumers both select from it, and
    Catalyst prunes the fields a consumer drops. Nested-schema pruning does
    NOT fire through posexplode, so the text subfield is still read and
    decoded from parquet. Generate is codegen'd while HOF lambdas are
    interpreted (2.25s vs 9.6s on 72M spans for the filter/transform
    formulation — do not "fix" this with F.transform: it measured 7.6s AND
    still read text). A GetArrayStructFields + arrays_zip + explode shape
    does prune text, but pays a zipped array per doc and measured slower on
    thin spans, the only span corpus the benchmark has (BENCH/BASELINE.md
    "Span-scan nested pruning").
    """
    fields = ("kind", "text", "media_ref", "offset")
    return docs.select(*carry, F.posexplode("spans").alias("pos", "span")).select(
        *carry, "pos", *(F.col(f"span.{f}").alias(f) for f in fields)
    )


def doc_media_refs(docs: DataFrame) -> DataFrame:
    """(doc_id, media_ref) — one row per media span."""
    return media_spans(docs).filter(F.col("kind") == "media").select("doc_id", "media_ref")


def flagship_enriched(docs: DataFrame, polygons: DataFrame) -> DataFrame:
    """The flagship's enriched intermediate: one row per (media_ref,
    polygon) carrying decode stats + cell assignments + pre-aggregated span
    stats (ref_spans, doc_sketch). Exposed (r5) so jobs needing BOTH the
    per-polygon aggregate and the per-tile sink run the expensive
    decode+assign+PIP kernel ONCE (localCheckpoint and derive both) instead
    of once per consumer — run_flagship.py previously decoded every tile
    twice per submission."""
    per_ref = doc_media_refs(docs).groupBy("media_ref").agg(
        F.count("*").alias("ref_spans"),
        F.hll_sketch_agg(F.xxhash64("doc_id"), F.lit(10)).alias("doc_sketch"),
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    return fused_decode_assign_pip(per_ref.repartition(par), polygons)


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
      * span side: ONE pass over (doc_id, spans), one posexplode
        (``media_spans``; the scan reads every span subfield);
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
