"""``bench.py`` attributes shuffle bytes to each query's own job group."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# a session of its own: the REST API needs the UI, which the shared test
# session runs without
SCRIPT = """
import json
import bench
from pyppi_spark.session import build_spark

tracing = bench.load_tracing()
spark = build_spark("bench_shuffle", master="local[2]", shuffle_partitions=2,
                    extra_conf=tracing.UI_CONF)
tracer = tracing.Tracer(spark)
tracer.group("shuffled")
bench.force(spark.range(100_000).repartition(4))
tracer.group("scan")
bench.force(spark.range(100_000))
groups, acct = tracer.engine_metrics()
print(json.dumps({"mb": bench.shuffle_write_mb(groups, ["shuffled", "scan"]), "acct": acct}))
spark.stop()
"""


def test_shuffle_bytes_read_per_job_group():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], capture_output=True, text=True, cwd=str(ROOT), timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    r = json.loads(out.stdout.strip().splitlines()[-1])
    assert r["acct"]["ok"]
    total_mb = round(r["acct"]["executor_shuffle_write_bytes"] / 1e6, 2)
    assert r["mb"]["shuffled"] == total_mb > 0
    assert r["mb"]["scan"] == 0
