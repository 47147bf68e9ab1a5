"""The repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {etl_batch,tick_stream,query_mix} \
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the root of a checkout.  The run generates its inputs from --seed
under .perfbench/ (reused by later runs with the same seed), sets the
program up three times (setup_s is the median), measures for --seconds,
checks every output, and prints one human-readable line per metric, then
the result as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
measures half the time untraced and half traced, and reports the per-layer
metrics, the tracing overhead (traced minus untraced) and the host canaries.
Spark's log, the spans and the full record of the run are written to
.perfbench/runs/<run id>/; see perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import harness

WORKLOADS = ("etl_batch", "tick_stream", "query_mix")
END_TO_END = {  # name -> unit, as in BENCHMARK.json
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "rss_after_gc_mb": "MB",
}
SETUP_REPS = 3
CANARY_RANGE_N = 500_000_000
# a run must end within 180 s even on a loaded host: the measured window
# shrinks (keeping at least one operation) so that it ends RUN_BUDGET_S
# after the process started, leaving RESERVE_S for what follows it
RUN_BUDGET_S = 150.0
RESERVE_S = 20.0


def _module(workload: str):
    if workload == "etl_batch":
        import etl as mod
    elif workload == "tick_stream":
        import tickstream as mod
    else:
        import querymix as mod
    return mod


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_canary(spark, lineitem: str) -> float:
    """bench.py's two fixed ambient probes (pure-CPU range sum, frozen
    parquet scan-aggregate): one warm-up, then the median of three."""
    from pyspark.sql import functions as F

    def probe() -> None:
        spark.range(CANARY_RANGE_N).agg(F.sum("id")).write.format("noop").mode("overwrite").save()
        spark.read.parquet(lineitem).agg(F.sum("l_quantity"), F.count("*")) \
            .write.format("noop").mode("overwrite").save()

    probe()
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        probe()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def restart(spark, run_dir: str):
    spark.stop()
    return harness.start_spark(run_dir)


def setup_once(spark, run_dir: str, mod, inputs: dict):
    """One set-up of the program: a new session on the running JVM, then the
    workload's warm-up at the smallest size.  Returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = restart(spark, run_dir)
    mod.warm(spark, inputs)
    return spark, time.perf_counter() - t0


def measure(mod, spark, inputs, seconds, res, tracer, run_dir):
    samples = mod.measure(spark, inputs, seconds, res, tracer=tracer, run_dir=run_dir)
    part = harness.Result(res.workload)
    mod.summarize(samples, part)
    return samples, part


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit (it
    exits when its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is None:  # a JVM this process did not launch
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(harness.RUNS, run_id)
    os.makedirs(run_dir, exist_ok=True)
    harness.prepare_process(run_dir)
    sys.path.insert(0, harness.ROOT)
    if args.trace:
        import tracing  # the cache counter must wrap cachegen before the program imports it

        tracing.install_cache_counter()
    import marketstream_etl_spark  # noqa: F401  (fail here, before any output, without the program)
    import querymix  # the canary scans query_mix's copy of the sf0.1 lineitem file

    mod = _module(args.workload)
    res = harness.Result(args.workload)
    t0 = time.perf_counter()
    spark = harness.start_spark(run_dir)
    artifact: dict = {"run_id": run_id, "args": vars(args), "spark_log": os.path.join(run_dir, "spark.log"),
                      "jvm_launch_s": time.perf_counter() - t0}
    layers: dict[str, float] = {}
    try:
        artifact["provenance"] = harness.provenance(spark, args.seed)
        t0 = time.perf_counter()
        inputs = mod.prepare(spark, args.seed, args.size)
        artifact["inputs_s"] = time.perf_counter() - t0
        # memory from here on belongs to set-up and the workload, not to the
        # input generators: a full GC lets the JVM give their heap back
        harness.rss_after_gc_mb(spark)
        rss = harness.RssSampler(spark._jvm.ProcessHandle.current().pid())
        rss.start()
        steal0 = harness.cpu_times()
        # the first set-up also pays the JVM's first compilation of the
        # workload's code paths; the median of three leaves it out
        setups = []
        for _ in range(SETUP_REPS):
            spark, s = setup_once(spark, run_dir, mod, inputs)
            setups.append(s)
        artifact["setup_reps_s"] = setups
        res.metrics["setup_s"] = statistics.median(setups)
        if args.trace:
            tracer = tracing.Tracer(spark, run_id)
            mod.instrument(tracer, inputs)
            # set-up overhead: one set-up with the wrappers recording spans,
            # against the untraced ones after the first
            tracer.active = True
            spark, traced = setup_once(spark, run_dir, mod, inputs)
            tracer.active = False
            tracer.reset(spark)
            layers["tracing.overhead.setup_s"] = traced - statistics.median(setups[1:])
            layers["host.canary_open_s"] = run_canary(spark, querymix.lineitem_path())
        if hasattr(mod, "check_passes"):  # after the set-ups: the caches it fills live in the session
            t0 = time.perf_counter()
            artifact["check_passes"] = mod.check_passes(spark, inputs, res)
            artifact["check_passes_s"] = time.perf_counter() - t0
        window = min(args.seconds, max(0.0, t_start + RUN_BUDGET_S - RESERVE_S - time.monotonic()))
        artifact["window_s"] = window
        if not args.trace:
            samples, part = measure(mod, spark, inputs, window, res, None, run_dir)
        else:
            half = window / 2
            samples_u, part_u = measure(mod, spark, inputs, half, res, None, run_dir)
            part_u.metrics["rss_after_gc_mb"] = harness.rss_after_gc_mb(spark)
            tracer.start()
            samples, part = measure(mod, spark, inputs, half, res, tracer, run_dir)
            tracer.stop()
            part.metrics["rss_after_gc_mb"] = harness.rss_after_gc_mb(spark)
            layers.update(tracer.metrics())
            layers.update(mod.layer_metrics(samples))
            layers["host.canary_close_s"] = run_canary(spark, querymix.lineitem_path())
            for k in ("throughput_per_s", "latency_p50_ms", "rss_after_gc_mb"):
                layers[f"tracing.overhead.{k}"] = part.metrics[k] - part_u.metrics[k]
            artifact["untraced_half"] = {"metrics": part_u.metrics, "named": part_u.named}
            artifact["spans"] = tracer.spans
            tracer.close()
        peak = rss.stop()
        steal1 = harness.cpu_times()
        layers["host.cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if "rss_after_gc_mb" not in part.metrics:
            part.metrics["rss_after_gc_mb"] = harness.rss_after_gc_mb(spark)
        res.metrics.update(part.metrics)
        res.named.update(part.named)
        res.name("setup_s", res.metrics["setup_s"], "s", SETUP_REPS, "median set-up")
        res.name("rss_after_gc_mb", res.metrics["rss_after_gc_mb"], "MB", 1,
                 "JVM + Python after a full GC at the end")
        res.name("peak_rss_mb", peak, "MB", 1,
                 "JVM + Python, sampled from the first set-up to the end; not gated")
        layers["host.peak_rss_mb"] = peak
        artifact["samples"] = _jsonable(samples)
    finally:
        stop_jvm(spark)

    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_units().items()}
    else:
        metrics = {n: {"value": float(res.metrics[n]), "unit": u} for n, u in END_TO_END.items()}
    artifact.update({"metrics": metrics, "layers": layers, "named": res.named, "attempted": res.attempted,
                     "failed": res.failed, "failures": res.failures})
    harness.write_json(os.path.join(run_dir, "artifact.json"), artifact)

    for key, m in res.named.items():
        val = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        note = f" ({m['note']})" if m["note"] else ""
        harness.say(f"{args.workload} {key} = {val} {m['unit']} n={m['n']}{note}")
    if args.trace:
        for n, m in metrics.items():
            harness.say(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}")
    else:
        harness.say(f"{args.workload} host.cpu_steal_share = {layers['host.cpu_steal_share']:.4g} ratio"
                    f" (CPU time other guests took from this host during the run)")
    if artifact["window_s"] < args.seconds:
        harness.say(f"{args.workload} note: measured {artifact['window_s']:.1f} s of {args.seconds:g} s"
                    f" to end within {RUN_BUDGET_S:g} s")
    share = res.failed / max(1, res.attempted)
    harness.say(f"{args.workload} failed_share = {share:.4g} ({res.failed}/{res.attempted})"
                f" artifact={os.path.relpath(os.path.join(run_dir, 'artifact.json'), harness.ROOT)}")
    for f in res.failures[:10]:
        harness.say(f"{args.workload} FAILED {f}")
    harness.say(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                            "failed": res.failed, "metrics": metrics}))
    return 0


def _jsonable(obj):
    return json.loads(json.dumps(obj, default=str))


if __name__ == "__main__":
    sys.exit(main())
