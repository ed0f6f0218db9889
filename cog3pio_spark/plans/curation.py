"""Training-data curation pipeline (task brief: dedup + quality + lang-id
as first-class components).

    documents → text features (tokens/quality/lang, JVM column math)
              → quality gate
              → exact dedupe (min doc_id per normalized content)
              → per-language corpus stats

Shuffle inventory: ONE partially-aggregated shuffle keyed by the sha2-256
content fingerprint (r5: groupBy + min/min_by, the same shape the minhash
collapse adopted per VERDICT r3 #3 — map-side combine ships at most one
candidate row per fingerprint per task, whereas the former
Window.partitionBy(fp) shuffled and SORTED every surviving full text row),
then a partial-agg shuffle over the deduped survivors. Quality and lang-id
are pure codegen; nothing crosses into Python.

Fully SQL-expressible ⇒ oracle-checked end-to-end by the driver
(q38_curation in __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cog3pio_spark.operators.text import fingerprint, lang_id, quality_score, token_count


def curate(
    docs: DataFrame,
    min_quality: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-gated, exact-deduped docs with predicted language.

    Keeps the min-``id_col`` row per sha2-256 content fingerprint (the
    shared ``text.fingerprint`` key — r4: 64-bit keys birthday-collide at
    the 10¹²-doc design point). Dedupe is a groupBy + min/min_by aggregate,
    never a full-row window (r5 review: the window shape shuffled + sorted
    every surviving text row; the aggregate ships ≤1 candidate per key per
    map task — ids are unique, so min_by is deterministic).

    Raises ValueError when ``docs`` already has a column named like one of
    the working columns (quality, lang_pred, n_tokens, fp)."""
    t = F.col(text_col)
    working = {
        "quality": quality_score(t),
        "lang_pred": lang_id(t),
        "n_tokens": token_count(t),
        "fp": fingerprint(t),
    }
    # withColumns would silently REPLACE caller columns named like the
    # working columns (and a caller 'fp' would vanish from the output
    # entirely) — refuse loudly instead of losing data
    clash = sorted(working.keys() & set(docs.columns))
    if clash:
        raise ValueError(
            f"curate() computes working columns {sorted(working)}; the "
            f"input already has {clash} — rename or drop them first"
        )
    feat = docs.withColumns(working).filter(F.col("quality") >= min_quality)
    out_cols = [c for c in feat.columns if c != "fp"]
    dedup = feat.groupBy("fp").agg(
        F.min(id_col).alias(id_col),
        *[
            F.min_by(c, F.col(id_col)).alias(c)
            for c in out_cols
            if c != id_col
        ],
    )
    return dedup.select(*out_cols)


def corpus_stats(
    docs: DataFrame,
    min_quality: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-predicted-language stats of the curated corpus (r5: forwards
    text_col/id_col — the half-parameterized shape broke on non-default
    column names)."""
    from pyspark.sql import types as T

    kept = curate(docs, min_quality, text_col=text_col, id_col=id_col)
    return kept.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # decimal sum: exact + partition-order independent (oracle contract)
        F.sum(F.col("quality").cast(T.DecimalType(18, 6))).cast("double").alias("sum_quality"),
        F.min(id_col).alias("first_doc"),
    )
