"""Per-partition checkpoint ledger — the engine's resumable-execution
substrate (FIXTURES.md §6).

The reference resumes by skipping stages whose output file already exists
(``/root/reference/bin/setupPpiDb.py:76,152-154,255-257,289-291`` — a
whole-stage, all-or-nothing marker). At 100 TB a stage is thousands of
partitions, so the ledger tracks *partition ranges* (hash buckets of the
entity key): a run that dies mid-stage resumes by anti-joining completed
buckets and recomputing only the rest.

Protocol (exactly-once per bucket):
1. plan: enumerate buckets = ``xxhash64(conv_id) pmod n_buckets``.
2. compute ALL pending buckets in one job: filter input to the pending
   bucket set → transform → write output partitions (``partitionBy(bucket)``,
   dynamic overwrite = idempotent on retry) → append ``done`` ledger rows in
   one batch (write-then-commit ordering: ledger rows land only after the
   data, so a crash between the two leaves those buckets pending and they
   are safely overwritten on resume).
3. resume: pending = all buckets − ledger ``done`` buckets for (run_id,
   input_lineage).

Lineage = hash of (input snapshot fingerprint, code version, params): a
changed input or operator invalidates prior progress automatically.

Storage is a parquet directory (an Iceberg catalog is not available in this
sandbox; the layout — append-only status rows, latest-wins — is the same
pattern an Iceberg table would give with ACID appends).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .io import local_table, path_exists
from .schema import CHECKPOINT_LEDGER

LEDGER_SCHEMA = CHECKPOINT_LEDGER


def _bucket_sql(conv_col: str, n_buckets: int) -> str:
    return f"CAST(pmod(xxhash64(`{conv_col}`), {int(n_buckets)}) AS INT)"


def bucket_of(conv_col: str, n_buckets: int):
    return F.expr(_bucket_sql(conv_col, n_buckets))


def lineage_id(input_fingerprint: str, code_version: str, params: dict) -> str:
    import hashlib

    payload = json.dumps(
        {"input": input_fingerprint, "code": code_version, "params": params},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class CheckpointLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        """The ledger rows, or ``None`` while no ledger exists — asked of the
        path's Hadoop FileSystem (any URI scheme), so a fresh ledger costs
        no Spark job."""
        if not path_exists(self.spark, self.path):
            return None
        return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)

    def done_buckets(self, run_id: str, lineage: str) -> set[int]:
        led = self._read()
        if led is None:
            return set()
        rows = (
            led.where((F.col("run_id") == run_id) & (F.col("input_lineage") == lineage))
            .where(F.col("status") == "done")
            .select("partition_key")
            .collect()
        )
        return {int(r.partition_key) for r in rows}

    def metrics_of(self, run_id: str, lineage: str, bucket: int | str) -> dict | None:
        """The ``metrics_json`` payload of the latest ``done`` row for a
        bucket (or ``None`` if no such row) — how a resumed run reads
        back metrics that were only observable while the skipped stage
        actually executed (e.g. Observation cap accounting)."""
        led = self._read()
        if led is None:
            return None
        rows = (
            led.where(
                (F.col("run_id") == run_id)
                & (F.col("input_lineage") == lineage)
                & (F.col("partition_key") == str(bucket))
                & (F.col("status") == "done")
            )
            .orderBy(F.col("updated_at").desc())
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        return json.loads(rows[0]["metrics_json"] or "{}")

    def mark(
        self,
        run_id: str,
        bucket: int,
        status: str,
        lineage: str,
        rows_in: int | None = None,
        rows_out: int | None = None,
        metrics: dict | None = None,
    ) -> None:
        self.mark_many(run_id, [(bucket, status, rows_in, rows_out, metrics)], lineage)

    def mark_many(
        self,
        run_id: str,
        entries: list[tuple],
        lineage: str,
    ) -> None:
        """Append ledger rows for many buckets in ONE write of one file (the
        per-bucket append was n_buckets tiny commits), built as an Arrow
        local table so the append starts no Python worker. ``entries``:
        (bucket, status, rows_in, rows_out, metrics) tuples."""
        import datetime as dt

        now = dt.datetime.now(dt.timezone.utc)
        rows = [
            (
                run_id,
                str(bucket),
                status,
                rows_in,
                rows_out,
                lineage,
                json.dumps(metrics or {}),
                now,
            )
            for bucket, status, rows_in, rows_out, metrics in entries
        ]
        local_table(self.spark, rows, LEDGER_SCHEMA).coalesce(1).write.mode("append").parquet(
            self.path
        )


def run_with_checkpoints(
    spark: SparkSession,
    inputs: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    output_path: str,
    ledger_path: str,
    run_id: str,
    lineage: str,
    conv_col: str = "conv_id",
    n_buckets: int = 8,
    fail_after: int | None = None,
) -> int:
    """Execute ``transform`` over all pending buckets with resume.

    SINGLE-PASS resume: every pending bucket is computed in ONE Spark job —
    one input scan filtered to ``_bucket IN pending`` (bucket/partition
    pruning when the input is bucket-partitioned at rest), one dynamic-
    partition-overwrite write (idempotent on retry), one batched ledger
    append. Per-bucket row counts ride on the WRITE itself via
    ``df.observe`` (one ``count_if(_bucket = b)`` accumulator per pending
    bucket — zero post-write reads; the earlier shape re-read the written
    output once, and before that once per bucket). Accumulator width is
    bounded at 256 pending buckets: every written row evaluates one
    ``count_if`` predicate per accumulator, and a wider aggregate exceeds
    the HotSpot huge-method / codegen limits (running interpreted —
    costlier per row than the read-back it replaces). Beyond the bound the
    counts fall back to one columnar read-back of the written partitions
    (a single scan of counts-only metadata, no recompute).

    Job shape on a fresh ledger: the ledger's absence is answered through
    the Hadoop FileSystem (no Spark job), the compute + write is ONE job,
    and the ledger append is one more — neither starts a Python worker.

    Contract: ``transform`` must be entity-local (rows of different
    ``conv_col`` values never interact — true of every per-conversation
    plan in this engine) and its output must carry ``conv_col`` so the
    bucket id can be re-derived for partitioning. Returns the number of
    buckets computed in this invocation (0 on a fully-resumed run).
    ``fail_after`` commits only the first N pending buckets then raises
    (the mid-run-kill scenario from SURVEY.md §5.3 item 4).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ledger = CheckpointLedger(spark, ledger_path)
    done = ledger.done_buckets(run_id, lineage)
    pending = [b for b in range(n_buckets) if b not in done]
    batch = pending[:fail_after] if fail_after is not None else pending
    if batch:
        from pyspark.sql import Observation

        t0 = time.perf_counter()
        part = inputs.where(
            f"{_bucket_sql(conv_col, n_buckets)} IN ({', '.join(str(int(b)) for b in batch)})"
        )
        out = transform(part).withColumn("_bucket", bucket_of(conv_col, n_buckets))
        obs = None
        if len(batch) <= 256:
            obs = Observation(f"ckpt_{run_id}")
            out = out.observe(obs, *[F.expr(f"count_if(_bucket = {int(b)}) AS b{b}") for b in batch])
        out.write.mode("overwrite").partitionBy("_bucket").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(output_path)
        if obs is not None:
            got = obs.get  # blocks on the finished write action
            counts = {int(b): int(got[f"b{b}"] or 0) for b in batch}
        else:
            counts = {
                int(r["_bucket"]): int(r["n"])
                for r in spark.read.parquet(output_path)
                .where(F.col("_bucket").isin([int(b) for b in batch]))
                .groupBy("_bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        wall = round(time.perf_counter() - t0, 3)
        ledger.mark_many(
            run_id,
            [
                (b, "done", None, counts.get(b, 0), {"wall_s": wall, "batch": len(batch)})
                for b in batch
            ],
            lineage,
        )
    if fail_after is not None and len(pending) > len(batch):
        raise RuntimeError(f"simulated failure after {len(batch)} buckets")
    return len(batch)
