"""Layer-attributed benchmark of the cog3pio_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One workload per process, closed loop with
one client on ``local[<cores>]``: the next pass starts only when the
previous one has finished. Workloads (see ``workloads.py``):

* ``flagship_docs``  flagship_pipeline over 3M interleaved docs, 400 tiles
* ``tile_job``       jobs/run_flagship.py's shape over 256-px tiles
* ``near_dup``       registry queries q16 q23 q24 q47 q51
* ``vector_search``  registry queries q17 q36 q48 q52 q20 q21 q43

BENCHMARK.json lists the first two; the registry workloads run by name,
and their queries are also measured by the registry probe of a traced
``flagship_docs`` run (see layers.json for why and for the layer targets).

A run: prepare inputs in the seed-keyed cache (generation time is never
part of set-up) -> four set-ups (session start + open inputs; the first
launches the JVM) -> control job -> cold first pass -> the workload's
untimed warm-up passes -> warm passes for ``--seconds`` (at least three) ->
control job. Every pass
output is checked. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace
0`` the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones from traced passes plus the layer breakdown. Full detail (samples,
controls, counters, layer targets) goes to
``.perfbench/results/<workload>-s<seed>-t<trace>.json``, spans of a traced
run to ``.perfbench/traces/<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

CONTROL_ROWS = 100_000_000
MIN_WARM = 3
N_SETUPS = 4
N_TRACED = 2


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("cog3pio_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py")
    )


def start_session(cpus: int):
    from cog3pio_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(32, cpus * 2),
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def control_job(spark, cpus: int) -> float:
    """bench.py's xxhash-sum control job (box load), at 1e8 rows."""
    from pyspark.sql import functions as F

    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        t0 = time.perf_counter()
        spark.range(CONTROL_ROWS, numPartitions=cpus * 8).select(
            F.sum(F.xxhash64(F.col("id"), F.col("id") * 3, F.col("id") + 7))
        ).collect()
        return time.perf_counter() - t0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def run_checked(wl, spark, probe, tally) -> float:
    """One pass: timed, then every output checked (outside the timing).
    The driver JVM is collected before the clock starts, so each pass
    starts from the same heap and peak RSS shows a pass's own footprint,
    not garbage left by earlier passes."""
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    try:
        results = wl.run_pass(spark, probe)
    except Exception as exc:  # a pass that raises counts as one failed op
        log(f"pass raised: {exc!r}")
        tally["attempted"] += 1
        tally["failed"] += 1
        return time.perf_counter() - t0
    dt = time.perf_counter() - t0
    record(tally, wl.check(results))
    return dt


def record(tally, checks) -> None:
    for op, err in checks:
        tally["attempted"] += 1
        if err is not None:
            tally["failed"] += 1
            tally["errors"].append(f"{op}: {err}")
            log(f"CHECK FAILED {op}: {err}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not engine_present():
        log("perfbench: run from a checkout of the engine (cog3pio_spark/, "
            "__spark_entry__.py and tools/ must sit in the working directory)")
        return 2

    import duckdb

    import observe as O
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    for d in ("tmp", "spark-local", "results", "traces"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    cpus = len(os.sched_getaffinity(0))
    others = O.other_spark_jvms(os.getpid())
    if others:
        log(f"WARNING: {len(others)} other Spark JVM(s) alive (pids {others}); "
            "numbers from this run are contaminated by their load")

    import inputs as I

    cache = I.Cache()
    wl = WORKLOADS[args.workload](cache, args.seed)
    wl.prepare()

    tracer = O.Tracer(enabled=bool(args.trace))
    tally = {"attempted": 0, "failed": 0, "errors": []}
    setups, session_starts = [], []

    def setup(first: bool):
        t0 = time.perf_counter()
        spark = start_session(cpus)
        t1 = time.perf_counter()
        if first:
            wl.prepare_spark(spark)  # cache miss generation: not set-up time
        t2 = time.perf_counter()
        wl.open(spark)
        t3 = time.perf_counter()
        session_starts.append(t1 - t0)
        setups.append((t1 - t0) + (t3 - t2))
        return spark

    # set-up runs back to back before any pass, so every repeat starts
    # from the same JVM state; the first one also launches the JVM
    spark = setup(first=True)
    from pyspark import SparkContext

    jvm_proc = SparkContext._gateway.proc
    for _ in range(N_SETUPS - 1):
        spark.stop()
        SparkContext._jvm.System.gc()
        spark = setup(first=False)
    rss = O.RssSampler(jvm_proc.pid, top=cpus)
    counters = O.SparkCounters(spark) if args.trace else None
    probe = O.Probe(tracer, counters, wl.name)

    duck = duckdb.connect(config={"temp_directory": os.path.join(OUT, "tmp")})
    t0 = time.perf_counter()
    wl.reference(duck)
    ref_s = time.perf_counter() - t0

    control_job(spark, cpus)  # JIT warm-up
    controls = [control_job(spark, cpus)]
    untraced = O.Probe(O.Tracer(False), None, wl.name)
    rss.active.set()
    first_pass = run_checked(wl, spark, untraced, tally)
    for _ in range(wl.WARMUP):  # untimed passes after the cold one
        run_checked(wl, spark, untraced, tally)
    warm, traced, layer_metrics = [], [], {}
    t_start = time.perf_counter()
    if args.trace:
        # untraced and traced passes alternate, so the overhead estimate
        # does not absorb the warm-up still going on over the first passes
        for _ in range(N_TRACED):
            warm.append(run_checked(wl, spark, untraced, tally))
            tracer.new_trace()
            with tracer.span("pass"):
                traced.append(run_checked(wl, spark, probe, tally))
        layer_metrics = wl.layers(spark, probe)
        record(tally, wl.probe_checks)
    else:
        while len(warm) < MIN_WARM or (
            time.perf_counter() - t_start + (sum(warm) / len(warm)) <= args.seconds
        ):
            warm.append(run_checked(wl, spark, untraced, tally))
    rss.active.clear()
    rss.close()
    controls.append(control_job(spark, cpus))

    spark.stop()
    gw = SparkContext._gateway
    gw.shutdown()
    jvm_proc.stdin.close()
    jvm_proc.wait(timeout=60)
    duck.close()

    pass_s = O.median(warm)
    end_to_end = {
        "setup_s": (O.median(setups), "s"),
        "first_pass_s": (first_pass, "s"),
        "pass_s": (pass_s, "s"),
        "docs_per_s": (wl.n_docs / pass_s, "1/s"),
        "tiles_per_s": (len(wl.ref["refs"]) / pass_s, "1/s"),
    }
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "setup_samples_s": setups, "session_start_samples_s": session_starts,
        "first_pass_s": first_pass, "warm_pass_samples_s": warm,
        "pass_s_samples": len(warm), "traced_pass_samples_s": traced,
        "control_s": {"before": controls[0], "after": controls[1], "rows": CONTROL_ROWS},
        "jvm_peak_rss_mb": rss.peak_jvm / O.MB,
        "python_workers_peak_rss_mb": rss.peak_workers / O.MB,
        "other_spark_jvms": others, "reference_s": ref_s,
        "fixtures_built": cache.built, "fixtures_gen_s": cache.gen_s,
        "attempted": tally["attempted"], "failed": tally["failed"],
        "failed_ops_frac": tally["failed"] / max(1, tally["attempted"]),
        "errors": tally["errors"][:20],
        "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
    }
    if args.trace:
        with open(os.path.join(HERE, "layers.json")) as f:
            spec = json.load(f)["metrics"]
        metrics = per_layer(spec, tracer, traced, warm, layer_metrics, session_starts,
                            cache, controls, (rss.peak_jvm / O.MB, rss.peak_workers / O.MB))
        tracer.write(os.path.join(OUT, "traces", f"{wl.name}-s{args.seed}.json"))
        report["per_layer"] = {
            k: {**spec[k], "value": v} for k, (v, _) in metrics.items()
        }
    else:
        metrics = end_to_end
    with open(os.path.join(OUT, "results", f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for k, (v, u) in metrics.items():
        log(f"{k:52s} {v:14.6g} {u}")
    log(f"ops: {tally['attempted']} attempted, {tally['failed']} failed; "
        f"control {controls[0]:.3f}/{controls[1]:.3f} s; pass_s from {len(warm)} warm passes")
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


SPARK_KEYS = ["executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "tasks", "failed_tasks", "input_mb", "jobs"]


def per_layer(spec, tracer, traced, warm, layers, session_starts, cache, controls,
              peak_rss_mb) -> dict:
    """Per-layer metrics (name -> (value, unit)) from the traced run. Every
    name in ``spec`` (layers.json) is reported; a layer the workload does
    not run reads 0."""
    import observe as O

    m = {k: 0.0 for k in spec}
    by_pass = []
    for p in (s for s in tracer.spans if s["name"] == "pass"):
        kids = [s["attrs"]["spark"] for s in tracer.spans if s["parent_id"] == p["span_id"]]
        tot = {k: sum(c[k] for c in kids) for k in SPARK_KEYS}
        tot["slowest_task_ratio"] = max(kids, key=lambda c: c["longest_stage_s"])[
            "slowest_task_ratio"]
        by_pass.append(tot)
    for k in SPARK_KEYS + ["slowest_task_ratio"]:
        m[f"spark.{k}"] = O.median([t[k] for t in by_pass])
    m["spark.jobs_per_pass"] = m.pop("spark.jobs")
    m.update(layers)
    for name in ("plans.flagship.flagship_enriched", "plans.flagship.flagship_aggregate",
                 "operators.checkpoint.write_checkpointed"):
        inside = [s for s in tracer.spans if s["name"] == name and s["parent_id"] is not None]
        if inside:
            key = {"operators.checkpoint.write_checkpointed": "operators.checkpoint.write_s"}.get(
                name, name + "_s")
            m[key] = O.median([s["end"] - s["start"] for s in inside])
    fused = [s for s in tracer.spans if s["name"] == "operators.tile_kernel.fused"]
    if fused:
        m.update({k: v for k, v in fused[-1]["attrs"]["python"].items() if k in m})
    m["spark.jvm_peak_rss_mb"], m["python.workers_peak_rss_mb"] = peak_rss_mb
    m["session.start_s"] = O.median(session_starts)
    m["fixtures.gen_s"] = cache.gen_s
    m["box.control_s"] = O.median(controls)
    m["trace.overhead_s"] = O.median(traced) - O.median(warm)
    return {k: (float(m[k]), spec[k]["unit"]) for k in spec}


if __name__ == "__main__":
    sys.exit(main())
