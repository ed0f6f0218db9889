"""spark-submit entry point for the flagship pipeline (north_rule contract).

    python tools/build_zip.py
    spark-submit --master <cluster> --py-files dist/cog3pio_spark.zip \
        jobs/run_flagship.py --docs <parquet> --out <checkpoint-base> \
        [--n-docs 1000000] [--polygons 64]

In-sandbox the same file runs under local[N]; on a cluster nothing changes
except --master. Output is written through the partition-manifest checkpoint
(resume-safe: re-submitting after a kill skips completed cell ranges).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct runs (`python jobs/run_flagship.py`) put jobs/ at sys.path[0], not
# the repo root — bootstrap like tools/* so the documented local fallback
# actually imports (r5 review); spark-submit --py-files is unaffected
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default=None, help="interleaved docs parquet path")
    ap.add_argument("--out", required=True, help="checkpoint base dir")
    ap.add_argument("--n-docs", type=int, default=1_000_000,
                    help="synthesize this many docs if --docs not given")
    ap.add_argument("--polygons", type=int, default=64)
    ap.add_argument("--s2-partitions", type=int, default=0,
                    help="range partitions for the checkpointed output (0 = default parallelism)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # spark-submit provides the session; fall back to local for direct runs
    spark = SparkSession.builder.appName("cog3pio-flagship").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from cog3pio_spark.fixtures.polygons import polygons_df
    from cog3pio_spark.operators.assign import range_partition_by_cell
    from cog3pio_spark.operators.checkpoint import write_checkpointed
    from cog3pio_spark.plans.flagship import flagship_aggregate, flagship_enriched

    if args.docs:
        docs = spark.read.parquet(args.docs)
    else:
        from cog3pio_spark.fixtures.cogs import ensure_fixtures

        refs = [r["media_ref"] for r in ensure_fixtures() if r["valid"]]
        from cog3pio_spark.fixtures.docs import interleaved_docs

        docs = interleaved_docs(spark, args.n_docs, refs)

    polys = polygons_df(spark, args.polygons)

    t0 = time.perf_counter()
    # ONE execution of the expensive decode+assign+PIP kernel (r5 review:
    # the old shape ran it twice per submission — once inside
    # flagship_pipeline's collect and again for the sink); localCheckpoint
    # makes the enriched frame the single source for BOTH consumers.
    enriched = flagship_enriched(docs, polys).localCheckpoint(eager=True)
    agg_rows = flagship_aggregate(enriched).collect()

    # full tile assignment table → range-partitioned, checkpointed sink.
    # NULL-cell ok rows (non-finite affine) carry no spatial key and are
    # excluded from the spatially-keyed sink explicitly (disclosed below):
    # s2_parent keeps NULL as NULL (r5 review: it once NaN→int-cast one into
    # a garbage valid-looking part_key), and a NULL part_key would make the
    # sink raise, since NULL keys cannot be resume-tracked. One aggregate
    # over the ok rows counts them and takes the cell range (min/max skip
    # NULLs), before the range shuffle rather than after it.
    par = args.s2_partitions or spark.sparkContext.defaultParallelism
    tiles = enriched.filter(F.col("status") == "ok")
    rng = tiles.agg(
        F.count(F.when(F.col("s2_cell").isNull(), 1)).alias("no_cell"),
        F.min("s2_cell").alias("lo"), F.max("s2_cell").alias("hi"),
    ).collect()[0]
    tiles = tiles.filter(F.col("s2_cell").isNotNull())
    tiles = range_partition_by_cell(tiles, par, cell_col="s2_cell")
    # part_key = S2 PARENT prefix, not a hash (r4 review: pmod(xxhash64)
    # scattered each range-contiguous task across every partition dir —
    # up to par² small files, a wasted range shuffle, and resume that
    # skipped hash buckets instead of the documented cell ranges). Parents
    # are deterministic across runs (resume-stable) and contiguous ranges
    # map to contiguous parents, so each range task writes ~1-2 dirs.
    # The parent LEVEL is sized from the DATA's cell range (r5 review: the
    # old global-count formula collapsed spatially clustered data — incl.
    # the default fixture run — into ONE partition, making resume
    # all-or-nothing): choose the finest level whose prefix stride still
    # spans the observed [min, max] id range in ≤ ~2·par parents.
    from cog3pio_spark.functions import cells as C

    level = 0
    if rng["lo"] is not None:
        span = max(1, int(rng["hi"]) - int(rng["lo"]))
        for lvl in range(0, 31):
            stride = 2 ** (2 * (30 - lvl) + 1)
            if span // stride + 1 >= par:
                level = lvl
                break
        else:
            level = 30
    tiles = tiles.withColumn("part_key", C.s2_parent(F.col("s2_cell"), level))
    ckpt = write_checkpointed(tiles.drop("hex_cells", "doc_sketch"),
                              args.out, part_col="part_key")

    dt = time.perf_counter() - t0
    print(json.dumps({
        "polygons_with_tiles": len(agg_rows),
        "checkpoint": ckpt,
        "part_key_level": level,
        "ok_rows_without_cell": int(rng["no_cell"]),
        "wall_sec": round(dt, 2),
    }))


if __name__ == "__main__":
    main()
