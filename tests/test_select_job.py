"""End-to-end corpus-selection job (subprocess, like a real
spark-submit): quality tiers -> DSIR -> mixture -> shards, determinism
across runs, budget respect, metrics accounting."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


def _run(args):
    out = subprocess.run(
        [sys.executable, str(ROOT / "jobs" / "select_corpus.py"), *args],
        capture_output=True, text=True, cwd=str(ROOT), timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def _mk_docs(spark, path):
    rows = []
    # two sources; "webby" english docs resemble each other, plus planted
    # gibberish that should fall into the surprisal tail
    for i in range(40):
        rows.append(
            (i, f"the quick brown fox number {i % 7} jumps over the lazy dog", "web", "en")
        )
    for i in range(40, 60):
        rows.append((i, f"ein kurzer deutscher satz nummer {i % 5} ohne inhalt", "books", "de"))
    for i in range(60, 70):
        rows.append((i, f"zzq{i} xkcd qqfl wvnm hrtp llgw zzq{i} qqfl xx{i} yy{i} zz{i}", "web", "en"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, lang string")
    df.write.mode("overwrite").parquet(path)


@pytest.fixture(scope="module")
def job_out(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("seljob")
    docs = str(base / "docs.parquet")
    _mk_docs(spark, docs)
    out = str(base / "out")
    argv = [
        "--documents", docs, "--output", out,
        "--target-lang", "en", "--dsir-k", "25",
        "--budget", "web=120", "--budget", "books=80",
        "--n-shards", "4", "--seed", "7", "--master", "local[4]",
    ]
    metrics = _run(argv)
    return base, docs, out, argv, metrics


def test_stage_accounting_monotone(job_out):
    _, _, _, _, m = job_out
    assert m["docs_in"] == 70
    assert m["docs_in"] >= m["docs_quality_kept"] >= m["docs_dsir_kept"]
    assert m["docs_dsir_kept"] >= m["docs_mixed"] == m["docs_out"]
    assert m["docs_out"] > 0
    assert m["tokens_out"] == sum(v["tokens"] for v in m["per_source"].values())


def test_budgets_respected_and_shards_bounded(spark, job_out):
    from pyspark.sql import functions as F

    _, _, out, _, m = job_out
    sel = spark.read.parquet(f"{out}/selected")
    got = {
        r.source: r.t
        for r in sel.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect()
    }
    assert got.get("web", 0) <= 120 and got.get("books", 0) <= 80
    shards = {r.shard for r in sel.select("shard").distinct().collect()}
    assert shards <= set(range(4))
    # metrics sidecar written and parseable
    js = json.loads(open(f"{out}/select_metrics.json").read())
    assert js["docs_out"] == m["docs_out"]


def test_job_is_deterministic(spark, job_out):
    base, docs, out, argv, _ = job_out
    out2 = str(base / "out2")
    argv2 = [a if a != out else out2 for a in argv]
    _run(argv2)
    a = sorted(r.doc_id for r in spark.read.parquet(f"{out}/selected").collect())
    b = sorted(r.doc_id for r in spark.read.parquet(f"{out2}/selected").collect())
    assert a == b


def test_arg_validation():
    from jobs.select_corpus import main

    with pytest.raises(SystemExit):
        main(["--documents", "x", "--output", "y", "--target-lang", "en"])
    with pytest.raises(SystemExit):
        main(["--documents", "x", "--output", "y", "--tiers", "gold"])
    with pytest.raises(SystemExit):
        main(["--documents", "x", "--output", "y", "--budget", "webonly"])


def test_target_buckets_artifact_handoff(spark, job_out):
    """A rerun consuming run 1's persisted target_buckets (never reading
    target text) must produce the identical selection."""
    base, docs, out, argv, _ = job_out
    out3 = str(base / "out3")
    argv3 = []
    i = 0
    while i < len(argv):
        if argv[i] == "--target-lang":
            argv3 += ["--target-buckets", f"{out}/target_buckets"]
            i += 2
        elif argv[i] == out:
            argv3.append(out3); i += 1
        else:
            argv3.append(argv[i]); i += 1
    _run(argv3)
    a = sorted(r.doc_id for r in spark.read.parquet(f"{out}/selected").collect())
    b = sorted(r.doc_id for r in spark.read.parquet(f"{out3}/selected").collect())
    assert a == b


def test_target_buckets_arg_conflicts():
    from jobs.select_corpus import main

    with pytest.raises(SystemExit):
        main(["--documents", "x", "--output", "y", "--target-lang", "en",
              "--target-buckets", "z", "--dsir-k", "5"])
    with pytest.raises(SystemExit):
        main(["--documents", "x", "--output", "y", "--target-buckets", "z"])
