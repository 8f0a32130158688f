"""End-to-end run of the dedup_corpus job entrypoint (subprocess, like a
real spark-submit): full mode over a shard, then incremental mode of a
second shard against the first run's outputs."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parents[1]
JOB = str(ROOT / "jobs" / "dedup_corpus.py")


def _run(args):
    out = subprocess.run(
        [sys.executable, JOB, *args],
        capture_output=True, text=True, cwd=str(ROOT), timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


@pytest.fixture(scope="module")
def shards(spark, tmp_path_factory):
    """shard0 (30 docs) and shard1 (40 docs), which overlaps shard0 (ids
    20-29 duplicated content) and brings fresh docs."""
    tmp = tmp_path_factory.mktemp("shards")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    old_shard = str(tmp / "shard0")
    new_shard = str(tmp / "shard1")
    docs.where("doc_id < 30").write.parquet(old_shard)
    docs.where("doc_id >= 20 and doc_id < 60").write.parquet(new_shard)
    return SimpleNamespace(old=old_shard, new=new_shard)


@pytest.fixture(scope="module")
def minhash_runs(shards, tmp_path_factory):
    """The minhash runs three tests share: a full run over shard0, then a
    ``--history-keys`` increment of shard1 against its outputs."""
    tmp = tmp_path_factory.mktemp("minhash_runs")
    out0 = str(tmp / "run0")
    m0 = _run(["--documents", shards.old, "--output", out0, "--master", "local[4]"])
    out1 = str(tmp / "run1")
    m1 = _run([
        "--documents", shards.new, "--output", out1, "--mode", "incremental",
        "--history-keys", f"{out0}/content_keys",
        "--old-documents", f"{out0}/documents_kept",
        "--master", "local[4]",
    ])
    return SimpleNamespace(out0=out0, m0=m0, out1=out1, m1=m1)


@pytest.fixture(scope="module")
def simhash_run(shards, tmp_path_factory):
    """The full simhash run over shard0 that two tests share."""
    out0 = str(tmp_path_factory.mktemp("simhash_run") / "run0")
    m0 = _run([
        "--documents", shards.old, "--output", out0,
        "--strategy", "simhash", "--max-hamming", "6", "--master", "local[4]",
    ])
    return SimpleNamespace(out0=out0, m0=m0)


def test_dedup_corpus_job_full_then_incremental(spark, minhash_runs):
    r = minhash_runs
    out0, m0, out1, m1 = r.out0, r.m0, r.out1, r.m1
    assert m0["docs_in"] == 30 and 0 < m0["docs_kept"] <= 30
    assert m0["cap_accounting"] is not None
    assert m0["cap_accounting"]["rows_dropped"] == 0

    # the 10 overlapping docs (20-29) are exact dups of history -> dropped
    assert m1["docs_in"] == 40
    assert m1["docs_kept"] <= 30
    kept = spark.read.parquet(f"{out1}/documents_kept")
    assert kept.where("doc_id < 30").count() == 0  # no history doc resurfaces
    # the key table grew: history keys + new survivors
    k0 = spark.read.parquet(f"{out0}/content_keys").count()
    k1 = spark.read.parquet(f"{out1}/content_keys").count()
    assert k1 >= k0 + m1["docs_kept"] - 1


def test_dedup_corpus_job_simhash_strategy(spark, simhash_run):
    """The SimHash family through the production entrypoint: exact dups
    collapse, the Hamming-ball pairs feed representatives, metrics report
    the near stage ran with cap accounting present."""
    out, m = simhash_run.out0, simhash_run.m0
    assert m["strategy"] == "simhash" and m["near_stage_ran"] is True
    assert 0 < m["docs_kept"] <= m["docs_in"] == 30
    assert m["cap_accounting"] is not None
    assert spark.read.parquet(f"{out}/documents_kept").count() == m["docs_kept"]


def test_dedup_corpus_job_incremental_prev_artifacts(spark, tmp_path, shards, minhash_runs):
    """Increment consuming the previous run's persisted artifacts:
    results identical to the text-derived path, the band table grows to
    cover the union corpus, and band_params mismatches fail loudly."""
    out0, m0 = minhash_runs.out0, minhash_runs.m0
    # full run persisted the incremental artifacts
    bands0 = spark.read.parquet(f"{out0}/minhash_bands")
    assert bands0.select("doc_id").distinct().count() == m0["docs_kept"]
    assert spark.read.parquet(f"{out0}/band_params").count() == 1

    # artifact path vs text path must agree exactly
    out_a = str(tmp_path / "run1a")
    m_a = _run([
        "--documents", shards.new, "--output", out_a, "--mode", "incremental",
        "--prev-artifacts", out0,
        "--old-documents", f"{out0}/documents_kept",
        "--master", "local[4]",
    ])
    # the text-derived (--history-keys) increment of the same shard
    out_b, m_b = minhash_runs.out1, minhash_runs.m1
    ids_a = sorted(r.doc_id for r in spark.read.parquet(f"{out_a}/documents_kept").collect())
    ids_b = sorted(r.doc_id for r in spark.read.parquet(f"{out_b}/documents_kept").collect())
    assert ids_a == ids_b and m_a["docs_kept"] == m_b["docs_kept"]
    # the updated band table covers old survivors + new survivors
    bands1 = spark.read.parquet(f"{out_a}/minhash_bands")
    assert (
        bands1.select("doc_id").distinct().count()
        == m0["docs_kept"] + m_a["docs_kept"]
    )


def test_dedup_corpus_job_incremental_simhash_no_old_text(spark, tmp_path, shards, simhash_run):
    """Incremental simhash from persisted keys alone: --old-documents is
    not passed at all — the frozen corpus text is never read (the Hamming
    verify runs on the 8-byte keys)."""
    out0, m0 = simhash_run.out0, simhash_run.m0
    keys0 = spark.read.parquet(f"{out0}/simhash_keys")
    assert keys0.count() == m0["docs_kept"]

    out1 = str(tmp_path / "run1")
    m1 = _run([
        "--documents", shards.new, "--output", out1, "--mode", "incremental",
        "--strategy", "simhash", "--max-hamming", "6",
        "--prev-artifacts", out0,
        "--master", "local[4]",
    ])
    assert m1["near_stage_ran"] is True and m1["docs_in"] == 40
    kept = spark.read.parquet(f"{out1}/documents_kept")
    assert kept.where("doc_id < 30").count() == 0  # exact dups of history gone
    # key table grew to union coverage
    keys1 = spark.read.parquet(f"{out1}/simhash_keys")
    assert keys1.count() == m0["docs_kept"] + m1["docs_kept"]


def test_dedup_corpus_job_kill_resume_identical(spark, tmp_path, shards, minhash_runs):
    """Stage-checkpointed execution: a run killed after the near-pairs
    stage, re-invoked with the same --run-id, resumes from the ledger and
    produces byte-identical survivors AND metrics (cap accounting read
    back from the ledger) vs an uninterrupted run (the shared full run
    over shard0)."""
    shard, out_ok, m_ok = shards.old, minhash_runs.out0, minhash_runs.m0

    out_kr = str(tmp_path / "killed")
    bad = subprocess.run(
        [sys.executable, JOB,
         "--documents", shard, "--output", out_kr, "--master", "local[4]",
         "--run-id", "r1", "--fail-after-stage", "1"],
        capture_output=True, text=True, cwd=str(ROOT), timeout=600,
    )
    assert bad.returncode != 0 and "simulated failure after stage 1" in bad.stderr
    # exact + pairs stages committed; kept not yet written
    assert spark.read.parquet(f"{out_kr}/near_pairs") is not None

    m_resumed = _run([
        "--documents", shard, "--output", out_kr, "--master", "local[4]",
        "--run-id", "r1",
    ])
    assert m_resumed == m_ok
    ids_ok = sorted(r.doc_id for r in spark.read.parquet(f"{out_ok}/documents_kept").collect())
    ids_kr = sorted(r.doc_id for r in spark.read.parquet(f"{out_kr}/documents_kept").collect())
    assert ids_ok == ids_kr


def test_dedup_corpus_job_incremental_moss_no_old_text(spark, tmp_path, shards):
    """Incremental MOSS from persisted fingerprints alone: --old-documents
    is not passed at all — the frozen corpus text is never read (the
    overlap rule is counted on the persisted (id, fingerprint) rows), and
    the winnow_fps artifact grows to cover the union corpus."""
    out0 = str(tmp_path / "run0")
    m0 = _run([
        "--documents", shards.old, "--output", out0,
        "--strategy", "moss", "--master", "local[4]",
    ])
    assert m0["strategy"] == "moss" and m0["near_stage_ran"] is True
    fps0 = spark.read.parquet(f"{out0}/winnow_fps")
    assert fps0.select("doc_id").distinct().count() == m0["docs_kept"]
    assert spark.read.parquet(f"{out0}/band_params").count() == 1

    out1 = str(tmp_path / "run1")
    m1 = _run([
        "--documents", shards.new, "--output", out1, "--mode", "incremental",
        "--strategy", "moss",
        "--prev-artifacts", out0,
        "--master", "local[4]",
    ])
    assert m1["near_stage_ran"] is True and m1["docs_in"] == 40
    assert m1["cap_accounting"] is not None
    kept = spark.read.parquet(f"{out1}/documents_kept")
    assert kept.where("doc_id < 30").count() == 0  # exact dups of history gone
    assert kept.count() == m1["docs_kept"]
    # fingerprint artifact grew to union coverage
    fps1 = spark.read.parquet(f"{out1}/winnow_fps")
    assert (
        fps1.select("doc_id").distinct().count()
        == m0["docs_kept"] + m1["docs_kept"]
    )
