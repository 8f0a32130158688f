"""Time named declared queries with the noop sink and report their engine
metrics. A before/after probe for one change, NOT the driver bench.

Each query runs REPS times (default 3), interleaved (q1 q2 … q1 q2 …) so
host drift lands on every query alike; each rep is a ``perfbench/tracing.py``
span under a job group named after the query. Prints one JSON object: per
query the best and median wall seconds and the engine metrics of its job
group (shuffle, spill, GC, stages and task skew, summed over its reps),
plus the shuffle accounting cross-check (``ok``). Input dir and cores
follow ``bench.py`` (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS).

Usage: python tools/time_queries.py q1 q2 ...   [REPS=n env]
"""
from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from bench import CPUS, SF_DIR, force, load_tracing
from pyppi_spark.session import build_spark

REPS = int(os.environ.get("REPS", "3"))


def main() -> None:
    names = sys.argv[1:]
    tracing = load_tracing()
    spark = build_spark(
        "time_queries", master=f"local[{CPUS}]", shuffle_partitions=CPUS, extra_conf=tracing.UI_CONF
    )
    tracer = tracing.Tracer(spark)
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    tracer.group("warmup")
    for t in ["events", "documents", "embeddings"]:
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    force(qs["sessionize"](spark, SF_DIR))  # JIT + codegen
    for _ in range(REPS):
        for name in names:
            tracer.span(name, lambda: force(qs[name](spark, SF_DIR)))
    groups, acct = tracer.engine_metrics()
    out = {"sf_dir": SF_DIR, "cpus": CPUS, "reps": REPS, "queries": {}, "accounting": acct}
    for name in names:
        walls = [s["wall_s"] for s in tracer.spans if s["name"] == name]
        out["queries"][name] = {
            "best_s": round(min(walls), 3),
            "median_s": round(statistics.median(walls), 3),
            **{k: round(v, 3) for k, v in groups.get(name, {}).items()},
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
