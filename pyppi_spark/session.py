"""SparkSession factory with scale-oriented defaults.

Defaults chosen for a 1000-executor / 100 TB deployment and scaled down by
environment for local testing:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) — the
  engine's inputs are Zipf-skewed conversations, the analog of the reference's
  few huge PDB complexes dominating its per-entity loop
  (``/root/reference/bin/setupPpiDb.py:163``).
- Arrow on, bounded batch size — all custom kernels are pandas/Arrow UDFs.
- Explicit shuffle partitions — sized from env so tests use local core count
  while production submits its own ``--conf``.
- Generated-class cache sized to the engine's working set (1000 entries,
  Spark's default is 100): a long-lived session that re-plans the same work
  (bench passes, best-of-N, a test session, streaming micro-batches) reuses
  its compiled code instead of recompiling and re-JITting it every pass.
  ``extra_conf`` overrides it like every other key.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(
    app_name: str = "pyppi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry points serve pytest, bench, and spark-submit (where the
    cluster master wins because the builder only sets master when asked).
    """
    # Make the package importable by Python workers regardless of the
    # driver's cwd. Local mode: workers inherit PYTHONPATH; cluster mode:
    # spark-submit --py-files dist/pyppi_spark.zip is the supported path
    # (see README run recipe) and this is a harmless no-op.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pp if pp else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor. The default (1m) is tuned for byte-bound
        # stages; this engine's post-shuffle stages are often COMPUTE-dense
        # on tiny rows (a 1.2 MB table of simhash keys explodes 28-way into
        # a pair join), and the 1 MB floor collapses them to 1-2 partitions
        # — 30 idle cores. 64k keeps such stages parallel; with
        # parallelismFirst (default true) partition count stays capped at
        # the parallelism target, so at production scale (partitions >> the
        # floor) the setting is inert. Env-overridable for cluster tuning.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache (static conf, LRU, default 100 entries). One
        # perfbench corpus_dedup pass (exact, MinHash, LSH, verify,
        # representatives, SemDeDup) compiles 112 classes, features_skewed
        # 56. At 100 entries every warm dedup pass recompiled 80-86 of them
        # and HotSpot re-JITted the new classes on the task cores (seed 72,
        # local[4]: 8.0-11.3 s of JIT CPU per 5.3-6.1 s pass); at 1000 a
        # warm pass compiles none (5.4-8.6 s of JIT per 3.9-5.3 s pass).
        # The headroom covers sessions that run several pipelines (a traced
        # perfbench run, a test session).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # throughput GC: measured +25% on the windowed feature pipeline vs
        # the G1 default at 32 threads (allocation-heavy sort buffers)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_EXECUTOR_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
