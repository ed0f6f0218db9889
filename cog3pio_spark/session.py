"""SparkSession factory with scale-oriented defaults.

These confs are chosen for a 1000-executor / 100 TB design point but applied
identically in local[N] test mode:

* AQE on (runtime re-plan, skew-join split, partition coalescing) — the salted
  range join and Zipfian media_ref skew rely on it.
* Arrow enabled with a bounded batch size so the COG decode UDF's memory is
  capped by batch, not by partition (the reference lifts decoder limits,
  src/io/geotiff.rs:32 — we bound at the batch layer instead).
* shuffle.partitions kept modest locally; on a real cluster this is
  set per-job from input stats (see operators/assign.py docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "cog3pio_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 16 MB, not the 128 MB cluster default (r4 review + CLAUDE.md):
        # local inputs are small, so 128 MB packs every scan into ~4 splits
        # on a 32-core box and every downstream Python-kernel stage
        # serializes; 16 MB yields ≥3× cores splits for typical local
        # inputs. A 100 TB deployment overrides per job from input stats
        # (tools/scaling.py already does, with this same value).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # sketch aggregates (hll_sketch_agg) use ObjectHashAggregate, which
        # silently falls back to SORT-based aggregation past 128 distinct
        # keys per task — that fallback turned a 14s pipeline run into 167s
        # (full sort of the span table per task). 64k keys × sketch size
        # comfortably fits executor memory.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # single-box: locality waits only add scheduler jitter (tasks idled
        # up to 3s waiting for "preferred" executors that don't exist)
        .config("spark.locality.wait", "0s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread_small_scan(df):
    """Repartition ONLY when the upstream has fewer partitions than cores.

    Per-row Python-kernel stages (Arrow cell UDFs, interpreted HOF
    transforms) serialize on one task when the input is a single small file
    (measured r3 at sf0.1: ngram 7.9→1.5 s, simhash 8.8→1.8 s, ring kNN
    5.3→2.9 s). At web scale the scan already has thousands of splits and
    this is a no-op — never an extra shuffle on a big table.

    Decided from the plan without running it: under AQE, reading the
    partition count of a plan that holds an exchange runs the stages below
    it, so such a (shuffled) frame is returned as it is.
    """
    if df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
