"""cog3pio_spark — a brand-new PySpark-native spatial-join + tiling engine.

Subsumes the COG-reading role of the Rust reference (weiji14/cog3pio,
/root/reference) and builds everything relational — H3/S2 cell indexing,
point-in-polygon joins, kNN, salted range joins, checkpoint/resume — Spark-first
on the DataFrame / Catalyst / Arrow stack.

Design notes
------------
* The reference is a single-file COG *reader* (src/lib.rs:116-131); its decode
  semantics (dtype dispatch src/io/geotiff.rs:50-60, (band,h,w) reshape :183-199,
  affine :117-143, pixel-center half-open coords :155-178) become the
  tile-resolution kernel inside ``operators.decode`` (vectorized mapInArrow).
* Zero per-row Python: only ``mapInArrow`` and vectorized UDFs (``arrow_udf``
  for cell ids, ``pandas_udf`` elsewhere) cross the JVM↔Python boundary, in
  Arrow batches (BASELINE.json input_hint).
* Pixel payloads travel as BinaryType blobs + (dtype, bands, height, width)
  metadata columns — never per-pixel arrays.
"""

__version__ = "0.1.0"

from cog3pio_spark.session import get_spark  # noqa: F401
