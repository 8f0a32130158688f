"""Benchmark entry point.

    python3 perfbench/run.py --workload features_skewed --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, starts a ``local[n]`` Spark
session (n = min(4, usable CPUs), shuffle partitions = n), runs a fixed
number of untimed warm-up passes, then timed passes while half a pass still
fits in ``--seconds`` (and at least the workload's minimum count), checks
the outputs against independent references, and prints one JSON line as
the last line of stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics instead: after the workload's own layers it runs every
other workload's set-up, warm-up and layers in the same session, so every
layer is measured in every traced run. It writes the full record to
``perfbench/traces/<workload>-<seed>.json``. All scratch data lives under
``perfbench/work/`` and is removed when the run ends.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Layers timed by every traced run. Engine metrics are reported for the
# layers that run Spark jobs, Python CPU for the layers with Python workers.
TIMED_LAYERS = [
    "session.build", "io.write_bucketed",
    "sessionize.with_session_id", "lag_lead.with_lag_lead", "lag_lead.with_gaps",
    "backfill.ffill", "features.turn_features", "features.conv_features_from_turns",
    "checkpoint.run_with_checkpoints", "checkpoint.done_buckets",
    "pit.cumulative_state", "asof.asof_join",
    "dedup.exact_dedup", "dedup.minhash_signatures", "dedup.minhash_lsh_candidates",
    "dedup.ngram_jaccard_pairs", "dedup.near_dedup_representatives",
    "similarity.train_centroids_from_file", "similarity.semantic_dedup_pairs",
]
NO_SPARK = {"session.build", "similarity.train_centroids_from_file"}
PYTHON_LAYERS = [n for n in TIMED_LAYERS if n.startswith(("dedup.", "similarity.")) and n not in NO_SPARK]
ENGINE = [("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"), ("stages", "count"), ("jvm_cpu_s", "s")]
TOTALS = [("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("gc_s", "s"), ("jvm_cpu_s", "s"), ("python_cpu_s", "s")]


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric (BENCHMARK.json order)."""
    units = {f"{n}_s": "s" for n in TIMED_LAYERS}
    units.update(
        {
            "io.bucket_rows_max_over_mean": "ratio", "checkpoint.output_mb": "MB",
            "asof.matched_probes": "count", "dedup.candidate_pairs": "count",
            "dedup.verified_over_candidates": "ratio",
        }
    )
    for n in TIMED_LAYERS:
        if n not in NO_SPARK:
            units.update({f"{n}.spark.{m}": u for m, u in ENGINE})
    units.update({f"{n}.spark.python_cpu_s": "s" for n in PYTHON_LAYERS})
    units.update({f"spark.{m}": u for m, u in TOTALS})
    return units


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args()


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    (``-XX:-UsePerfData`` drops the JVM's hsperfdata file in the system temp
    dir; ``JAVA_TOOL_OPTIONS`` carries it to spark-submit's launcher JVM,
    which takes no driver options), and keep numpy's BLAS in the Python
    workers single-threaded (one per task thread, no oversubscription)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    no_files = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    java_opts = f"-XX:+UseParallelGC {no_files}"
    os.environ.update(
        {
            "JAVA_TOOL_OPTIONS": no_files,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": java_opts,
            "SPARK_GRAFT_EXECUTOR_JAVA_OPTS": java_opts,
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
        }
    )


def run(args, workload, work: str, threads: int) -> dict:
    import numpy as np

    sys.path.insert(0, ROOT)
    from pyppi_spark.session import build_spark
    from tracing import UI_CONF, Tracer, cpu_s, jvm_pid, peak_rss_mb

    wl = workload(work, threads)
    wl.prepare(np.random.default_rng(args.seed))
    log = {"prepare_s": time.perf_counter() - T_START}
    t0 = time.perf_counter()
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"), "spark.ui.showConsoleProgress": "false"}
    spark = build_spark(f"perfbench-{wl.name}", master=f"local[{threads}]", shuffle_partitions=threads,
                        extra_conf={**conf, **(UI_CONF if args.trace else {})})
    log["build_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark) if args.trace else None
    span = tracer.span if tracer else (lambda name, fn: fn())
    jvm = jvm_pid(spark)
    try:
        t0 = time.perf_counter()
        wl.register(spark, span)
        log["register_s"] = time.perf_counter() - t0
        if tracer:
            tracer.group("warmup")
        log["warmup_s"] = []
        for i in range(wl.warmup):
            t0 = time.perf_counter()
            wl.run_pass(spark, i)
            log["warmup_s"].append(time.perf_counter() - t0)
        setup_s = time.perf_counter() - T_START

        passes = []
        if tracer:
            counts = wl.layers(spark, span)
        else:
            t_end = time.perf_counter() + args.seconds
            # a pass starts only if at least half of a typical pass fits in
            # the window, so a run ends within about half a pass of --seconds
            while len(passes) < wl.min_passes or (
                time.perf_counter() + statistics.median(p["wall_s"] for p in passes) / 2 < t_end
            ):
                t0, c0 = time.perf_counter(), cpu_s(jvm)
                stage_s = wl.run_pass(spark, wl.warmup + len(passes))
                passes.append({"wall_s": time.perf_counter() - t0, "jvm_cpu_s": cpu_s(jvm) - c0, **stage_s})
            rss = peak_rss_mb(jvm)
        errs, info = wl.check(spark)
        if tracer:
            # every traced run measures every layer: each other workload's
            # set-up, warm-up passes, layers and checks follow in the session
            from workloads import WORKLOADS

            for other in WORKLOADS.values():
                if other is workload:
                    continue
                o = other(os.path.join(work, other.name), threads)
                o.prepare(np.random.default_rng(args.seed))
                o.register(spark, span)
                tracer.group("warmup")
                for i in range(o.warmup):
                    o.run_pass(spark, i)
                counts.update(o.layers(spark, span))
                o_errs, o_info = o.check(spark)
                errs, info = errs + o_errs, {**info, **o_info}
            groups, acct = tracer.engine_metrics()
    finally:
        stop(spark)

    for e in errs:
        print("CHECK FAILED:", e, file=sys.stderr)
    log.update(setup_s=setup_s, passes=passes, **info)
    print(f"{wl.name}:", json.dumps(log, default=lambda x: round(x, 3)), file=sys.stderr)
    if not tracer:
        pass_s = statistics.median(p["wall_s"] for p in passes)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": wl.rows / pass_s, "unit": "rows/s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
        return {"correct": not errs, "attempted": len(passes), "failed": 0, "metrics": metrics}

    spans = {s["name"]: s for s in tracer.spans}
    spans["session.build"] = {"wall_s": log["build_s"]}
    values = layer_values(spans, groups, counts)
    record = {"workload": wl.name, "seed": args.seed, "threads": threads, "rows": wl.rows, "log": log,
              "metrics": values, "spans": tracer.spans, "groups": groups, "accounting": acct,
              "check_errors": errs}
    os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
    with open(os.path.join(HERE, "traces", f"{wl.name}-{args.seed}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if not acct["ok"]:
        print("TRACE ACCOUNTING FAILED:", acct, file=sys.stderr)
    return {"correct": not errs and acct["ok"], "attempted": 1, "failed": 0, "metrics": values}


def stop(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def layer_values(spans: dict[str, dict], groups: dict[str, dict], counts: dict) -> dict:
    """Every per-layer metric, from the spans, the per-group engine metrics
    and the layer counts; engine totals sum over the traced layers only
    (not set-up or warm-up). A layer missing from the spans is an error."""
    values = {}
    for name, unit in per_layer_units().items():
        layer, _, m = name.partition(".spark.")
        if name.startswith("spark."):
            m = name[len("spark."):]
            v = sum({**groups.get(n, {}), **s}.get(m, 0.0) for n, s in spans.items())
        elif m:
            v = {**groups.get(layer, {}), **spans[layer]}.get(m, 0.0)
        elif name[:-2] in TIMED_LAYERS:
            v = spans[name[:-2]]["wall_s"]
        else:
            v = counts[name]
        values[name] = {"value": v, "unit": unit}
    return values


def main() -> int:
    args = parse_args()
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "pyppi_spark")):
        print(f"no pyppi_spark package next to {HERE}; run from a checkout of the repository", file=sys.stderr)
        return 2
    threads = max(1, min(4, len(os.sched_getaffinity(0))))
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        result = run(args, WORKLOADS[args.workload], work, threads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
