"""Kill-and-resume determinism (SURVEY.md §5.3 item 4 / north-rule
resumability): a run killed mid-stage resumes from the ledger and produces
byte-identical output to an uninterrupted run."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F

from pyppi_spark.checkpoint import CheckpointLedger, lineage_id, run_with_checkpoints
from pyppi_spark.plans import conv_features


def _run(spark, tiny_df, tmp, run_id, lineage, fail_after=None):
    return run_with_checkpoints(
        spark,
        tiny_df,
        transform=conv_features,
        output_path=f"{tmp}/out_{run_id}",
        ledger_path=f"{tmp}/ledger",
        run_id=run_id,
        lineage=lineage,
        n_buckets=4,
        fail_after=fail_after,
    )


def test_kill_and_resume_identical(spark, tiny_df, tmp_path):
    tmp = str(tmp_path)
    lin = lineage_id("tiny42", "v0.1.0", {"gap_s": 1800})

    # uninterrupted reference run
    n_ref = _run(spark, tiny_df, tmp, "ref", lin)
    assert n_ref == 4

    # killed after 2 buckets
    with pytest.raises(RuntimeError, match="simulated failure"):
        _run(spark, tiny_df, tmp, "killed", lin, fail_after=2)

    # resume: only the remaining 2 buckets are computed
    n_resumed = _run(spark, tiny_df, tmp, "killed", lin)
    assert n_resumed == 2

    ref = (
        spark.read.parquet(f"{tmp}/out_ref").drop("_bucket")
        .orderBy("conv_id").toPandas()
    )
    res = (
        spark.read.parquet(f"{tmp}/out_killed").drop("_bucket")
        .orderBy("conv_id").toPandas()
    )
    assert ref.equals(res)

    # ledger carries metrics + lineage for every bucket
    led = spark.read.parquet(f"{tmp}/ledger").toPandas()
    killed = led[(led.run_id == "killed") & (led.status == "done")]
    assert set(killed.partition_key) == {"0", "1", "2", "3"}
    assert (killed.input_lineage == lin).all()
    assert killed.metrics_json.str.contains("wall_s").all()


def test_changed_lineage_invalidates_progress(spark, tiny_df, tmp_path):
    tmp = str(tmp_path)
    lin_a = lineage_id("tiny42", "v0.1.0", {"gap_s": 1800})
    lin_b = lineage_id("tiny42", "v0.1.0", {"gap_s": 600})
    _run(spark, tiny_df, tmp, "r1", lin_a)
    led = CheckpointLedger(spark, f"{tmp}/ledger")
    assert led.done_buckets("r1", lin_a) == {0, 1, 2, 3}
    assert led.done_buckets("r1", lin_b) == set()  # params changed → recompute


def test_fully_resumed_run_is_noop(spark, tiny_df, tmp_path):
    tmp = str(tmp_path)
    lin = lineage_id("tiny42", "v0.1.0", {})
    assert _run(spark, tiny_df, tmp, "r2", lin) == 4
    assert _run(spark, tiny_df, tmp, "r2", lin) == 0


def test_observed_counts_match_written_partitions(spark, tiny_df, tmp_path):
    """Per-bucket rows_out now rides on the write via df.observe (zero
    post-write reads) — the ledger's counts must equal the actual written
    partition sizes, including after a kill/resume split."""
    tmp = str(tmp_path)
    lin = lineage_id("tiny", "v1", {"case": "observe"})
    with pytest.raises(RuntimeError):
        _run(spark, tiny_df, tmp, "obs", lin, fail_after=1)
    _run(spark, tiny_df, tmp, "obs", lin)

    actual = {
        int(r["_bucket"]): int(r["n"])
        for r in spark.read.parquet(f"{tmp}/out_obs")
        .groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    ledger = CheckpointLedger(spark, f"{tmp}/ledger")
    rows = (
        ledger._read()
        .where((F.col("run_id") == "obs") & (F.col("status") == "done"))
        .select("partition_key", "rows_out")
        .collect()
    )
    recorded = {int(r.partition_key): int(r.rows_out) for r in rows}
    assert recorded == actual and sum(actual.values()) == conv_features(tiny_df).count()


@contextmanager
def _job_group(spark, group):
    """Run the block under a job group; yields a callable giving the ids of
    the Spark jobs submitted under it so far."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_uri_ledger_resumes(spark, tiny_df, tmp_path):
    """A ledger addressed by URI (file://) is found again: the second run
    computes nothing and the recorded metrics read back."""
    ledger = f"file://{tmp_path}/ledger"
    lin = lineage_id("tiny42", "v0.1.0", {"case": "uri"})
    kw = dict(
        transform=conv_features, output_path=f"file://{tmp_path}/out", ledger_path=ledger,
        run_id="uri", lineage=lin, n_buckets=4,
    )
    assert run_with_checkpoints(spark, tiny_df, **kw) == 4
    assert run_with_checkpoints(spark, tiny_df, **kw) == 0
    led = CheckpointLedger(spark, ledger)
    assert led.done_buckets("uri", lin) == {0, 1, 2, 3}
    assert led.metrics_of("uri", lin, 2)["batch"] == 4


def test_fresh_ledger_pass_submits_at_most_two_jobs(spark, tiny_df, tmp_path):
    """Fresh ledger over a balanced-bucket table: the existence check runs
    no job, compute + write is one shuffle-free job and the ledger append
    one more."""
    from pyppi_spark.io import register_bucketed, write_bucketed

    loc = str(tmp_path / "bucketed")
    write_bucketed(tiny_df, "t_ckpt_bucketed", loc, n_buckets=4)
    table = register_bucketed(spark, "t_ckpt_bucketed", loc, n_buckets=4)
    lin = lineage_id("tiny42", "v0.1.0", {"case": "jobs"})
    with _job_group(spark, "ckpt_fresh_pass") as jobs:
        n = _run(spark, table, str(tmp_path), "jobs", lin)
        submitted = jobs()
    assert n == 4
    assert 1 <= len(submitted) <= 2, submitted


def test_missing_ledger_read_submits_no_job(spark, tmp_path):
    led = CheckpointLedger(spark, f"{tmp_path}/no_such_ledger")
    with _job_group(spark, "ckpt_missing_ledger") as jobs:
        assert led.done_buckets("r", "lin") == set()
        assert led.metrics_of("r", "lin", 0) is None
        assert jobs() == []


def test_mark_many_round_trip_one_file(spark, tmp_path):
    """The Arrow-built ledger append keeps every field (nulls, the metrics
    JSON, a current UTC timestamp) and lands as one file."""
    import datetime as dt
    import glob

    path = f"{tmp_path}/ledger"
    led = CheckpointLedger(spark, path)
    t0 = dt.datetime.now(dt.timezone.utc)
    led.mark_many("r", [(0, "done", None, 5, {"k": 1}), (1, "done", 3, None, None)], "lin")
    assert len(glob.glob(f"{path}/*.parquet")) == 1
    rows = sorted(map(tuple, led._read().collect()), key=lambda r: r[1])
    assert [r[:7] for r in rows] == [
        ("r", "0", "done", None, 5, "lin", '{"k": 1}'),
        ("r", "1", "done", 3, None, "lin", "{}"),
    ]
    stamp = rows[0][7].replace(tzinfo=None)  # session-local (UTC) wall clock
    assert abs((stamp - t0.replace(tzinfo=None)).total_seconds()) < 60
    assert led.metrics_of("r", "lin", 0) == {"k": 1}
