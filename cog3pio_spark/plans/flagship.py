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


def media_spans(docs: DataFrame) -> DataFrame:
    """posexplode preserving span order: (doc_id, pos, kind, text, media_ref, offset)."""
    return docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def doc_media_refs(docs: DataFrame, prune_text: bool = False) -> DataFrame:
    """(doc_id, media_ref) — one row per media span. Two plan shapes, same
    output (pinned by test_plans.py::test_doc_media_refs_pruned_scan_equal):

    ``prune_text=False`` (default): posexplode + subfield projection.
    Catalyst's nested-schema pruning does NOT fire through posexplode — the
    text subfield IS read and decoded from parquet. Generate is codegen'd
    while HOF lambdas are interpreted (2.25s vs 9.6s on 72M spans for the
    filter/transform formulation — do not "fix" this with F.transform: it
    measured 7.6s AND still read text).

    ``prune_text=True``: GetArrayStructFields extraction (``spans.kind``,
    ``spans.media_ref`` — direct ExtractValue, no lambda) zipped with
    arrays_zip, then exploded. Pruning FIRES: ReadSchema drops text+offset
    (81% of the bench table's compressed bytes). Cost is one zipped array
    materialization per doc, so the winner depends on text bytes per span
    (measured, 32 cores, page-cached):

      * thin spans (bench table, ~12 compressed B/span): default 1.9s vs
        pruned 2.8s — per-span zip overhead beats the free cached IO;
      * fat spans (~450 B/span, 0.7 GB): default 0.99s vs pruned 0.45s.

    At 100 TB the data is NOT in page cache and real web spans are KBs, so
    prune_text=True is the cluster shape: it turns an 81%-of-bytes column
    into zero IO. The local default stays False only because the sandbox
    bench corpus has 40-char spans and fully cached files.
    """
    if prune_text:
        slim = docs.select(
            "doc_id",
            F.arrays_zip(
                F.col("spans.kind").alias("kind"),
                F.col("spans.media_ref").alias("media_ref"),
            ).alias("sp"),
        )
        return (
            slim.select("doc_id", F.explode("sp").alias("s"))
            .select(
                "doc_id",
                F.col("s.kind").alias("kind"),
                F.col("s.media_ref").alias("media_ref"),
            )
            .filter(F.col("kind") == "media")
            .drop("kind")
        )
    return (
        docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.col("span.media_ref").alias("media_ref"),
        )
        .filter(F.col("kind") == "media")
        .drop("kind")
    )


def flagship_enriched(
    docs: DataFrame, polygons: DataFrame, prune_text: bool = False
) -> DataFrame:
    """The flagship's enriched intermediate: one row per (media_ref,
    polygon) carrying decode stats + cell assignments + pre-aggregated span
    stats (ref_spans, doc_sketch). Exposed (r5) so jobs needing BOTH the
    per-polygon aggregate and the per-tile sink run the expensive
    decode+assign+PIP kernel ONCE (localCheckpoint and derive both) instead
    of once per consumer — run_flagship.py previously decoded every tile
    twice per submission."""
    span_refs = doc_media_refs(docs, prune_text=prune_text)
    per_ref = span_refs.groupBy("media_ref").agg(
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


def flagship_pipeline(
    docs: DataFrame, polygons: DataFrame, prune_text: bool = False
) -> DataFrame:
    """Docs → per-polygon tile/doc counts, the end-to-end spine (SURVEY M1).

    Plan shape (scale rationale in the module docstring):
      * span side: ONE pass over (doc_id, spans) — with ``prune_text=True``
        the parquet scan reads only the kind/media_ref subfields (the
        cluster shape; see doc_media_refs for the measured trade);
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
    return flagship_aggregate(flagship_enriched(docs, polygons, prune_text))
