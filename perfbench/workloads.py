"""The workloads: input make-up, one timed pass, the checks, and the
per-layer calls of a traced run.

A workload object goes through ``prepare`` (numpy/pyarrow input files),
``register`` (Spark-side input set-up), ``run_pass`` (one timed pass of the
work a user would run), ``check`` (outputs against checks.py references)
and, in traced runs, ``layers`` (each layer's public function forced on its
own).
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import checks
import gen


def noop(df) -> None:
    """Force a DataFrame without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**", recursive=True) if os.path.isfile(f)) / 2**20


def _conv_index(conv_id: pd.Series) -> np.ndarray:
    return conv_id.str.slice(1).astype(np.int64).to_numpy()


class FeaturesSkewed:
    """Per-conversation feature vectors through run_with_checkpoints over a
    balanced-bucket table where one conversation holds half the turns."""

    name = "features_skewed"
    turns = 60_000
    warmup = 2
    min_passes = 3

    def __init__(self, work: str, threads: int):
        self.work, self.threads = work, threads
        self.rows = self.turns
        self.pit_errs: list[str] = []

    def prepare(self, rng) -> None:
        giant = self.turns // 2
        rest = gen.zipf_sizes(rng, self.turns, cap=2_000)
        rest = rest[: np.searchsorted(np.cumsum(rest), self.turns - giant) + 1]
        rest[-1] -= rest.sum() - (self.turns - giant)
        rest = rest[rest > 0]
        sizes = np.insert(rest, rng.integers(0, len(rest) + 1), giant)
        self.t = gen.transcripts(rng, sizes)
        self.p = gen.probes(rng, self.t)
        gen.write_parquet(rng, gen.transcript_table(self.t), f"{self.work}/transcripts", 2 * self.threads)
        gen.write_parquet(rng, gen.probe_table(self.p, len(sizes)), f"{self.work}/probes", 2 * self.threads)

    def register(self, spark, span) -> None:
        from pyppi_spark.io import write_bucketed

        self.raw = spark.read.parquet(f"{self.work}/transcripts")
        span("io.write_bucketed", lambda: write_bucketed(
            self.raw, "bench_transcripts", f"{self.work}/bucketed", n_buckets=self.threads
        ))
        self.table = spark.table("bench_transcripts")

    def _run(self, spark, i: int) -> int:
        from pyppi_spark.checkpoint import run_with_checkpoints
        from pyppi_spark.plans import conv_features

        self.ledger = f"{self.work}/ledger/{i}"
        return run_with_checkpoints(
            spark, self.table, conv_features, f"{self.work}/features", self.ledger,
            run_id="bench", lineage="features_skewed",
        )

    def run_pass(self, spark, i: int) -> dict[str, float]:
        self._run(spark, i)
        return {}

    def check(self, spark) -> tuple[list[str], dict]:
        parts = [
            pq.read_table(f).to_pandas()
            for f in sorted(glob.glob(f"{self.work}/features/_bucket=*/*.parquet"))
        ]
        out = pd.concat(parts, ignore_index=True)
        out["conv"] = _conv_index(out["conv_id"])
        for c in ("first_ts", "last_ts"):
            out[c] = pd.to_datetime(out[c], utc=True).dt.as_unit("us").astype(np.int64)
        ledger = pq.read_table(self.ledger).to_pandas()
        return checks.check_conv_features(out, self.t, ledger) + self.pit_errs, {}

    def layers(self, spark, span) -> dict[str, float]:
        from pyppi_spark.checkpoint import CheckpointLedger
        from pyppi_spark.operators.backfill import ffill
        from pyppi_spark.operators.lag_lead import with_gaps, with_lag_lead
        from pyppi_spark.operators.sessionize import with_session_id
        from pyppi_spark.plans import conv_features_from_turns, turn_features

        t, key = self.table, ["_bkt", "conv_id"]
        span("sessionize.with_session_id", lambda: noop(with_session_id(t, conv_col=key)))
        span("lag_lead.with_lag_lead", lambda: noop(with_lag_lead(t, ["role"], conv_col=key)))
        span("lag_lead.with_gaps", lambda: noop(with_gaps(t, conv_col=key)))
        span("backfill.ffill", lambda: noop(ffill(t, ["tool"], conv_col=key)))
        span("features.turn_features", lambda: noop(turn_features(t)))
        tf = turn_features(t).cache()
        tf.count()
        span("features.conv_features_from_turns", lambda: noop(conv_features_from_turns(tf)))
        tf.unpersist()
        span("checkpoint.run_with_checkpoints", lambda: self._run(spark, 10_000))
        span("checkpoint.done_buckets", lambda: CheckpointLedger(spark, self.ledger).done_buckets("bench", "features_skewed"))
        sizes = [r["count"] for r in t.groupBy("_bkt").count().collect()]
        counts = {
            "checkpoint.output_mb": dir_mb(f"{self.work}/features"),
            "io.bucket_rows_max_over_mean": max(sizes) / (sum(sizes) / len(sizes)),
        }
        return {**counts, **self._pit_layers(span)}

    def _pit_layers(self, span) -> dict[str, float]:
        """Point-in-time snapshots (union as-of) for about one probe per two
        turns, over the raw (unbucketed) transcripts, then the PIT check."""
        from pyspark.sql import functions as F
        from pyppi_spark.operators.asof import asof_join
        from pyppi_spark.plans.pit import PIT_STATE_COLS, cumulative_state, pit_features

        probes = self.table.sparkSession.read.parquet(f"{self.work}/probes")
        span("pit.cumulative_state", lambda: noop(cumulative_state(self.raw)))
        state = cumulative_state(self.raw).cache()
        state.count()
        joined = asof_join(
            probes, state, probe_ts="probe_ts", build_ts="ts", by=("conv_id",),
            payload=PIT_STATE_COLS, inclusive=True, tiebreak="turn_idx", prefix="",
        )
        span("asof.asof_join", lambda: noop(joined))
        state.unpersist()
        out = pit_features(probes, self.raw).select(
            F.expr("cast(substr(probe_id, 2) as long)").alias("probe"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
            "n_turns_so_far", "n_sessions_so_far", "gap_mean_so_far_s",
            "gap_max_so_far_s", "last_role", "last_tool",
        ).toPandas()
        self.pit_errs = checks.check_pit(out, self.t, self.p)
        return {"asof.matched_probes": int(out["ts"].notna().sum())}


class CorpusDedup:
    """Text near-dedup as jobs/dedup_corpus.py runs it (exact, MinHash
    signatures, LSH, Jaccard verify, components, survivors written), then
    SemDeDup pairs with centroids trained from the vector file."""

    name = "corpus_dedup"
    docs = 2_000
    warmup = 1
    min_passes = 2
    jaccard = 0.8  # dedup_corpus --jaccard-threshold default
    cosine = 0.95  # semantic_dedup_pairs default

    def __init__(self, work: str, threads: int):
        self.work, self.threads = work, threads
        self.rows = self.docs

    def prepare(self, rng) -> None:
        self.d = gen.documents(rng, self.docs, n_clusters=self.docs // 10)
        table = gen.document_table(self.d)
        gen.write_parquet(rng, table, f"{self.work}/documents", 2 * self.threads)
        pq.write_table(
            table.select(["doc_id", "embedding"]), f"{self.work}/vectors.parquet",
            row_group_size=-(-self.docs // (2 * self.threads)),
        )

    def register(self, spark, span) -> None:
        self.documents = spark.read.parquet(f"{self.work}/documents")

    def _stage(self, spark, name: str, df):
        """dedup_corpus's stage shape: write, then read back."""
        df.write.mode("overwrite").parquet(f"{self.work}/{name}")
        return spark.read.parquet(f"{self.work}/{name}")

    def _candidates(self, uniq):
        from pyspark.sql import Observation
        from pyppi_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures
        from jobs.dedup_corpus import MINHASH_PARAMS as P

        sigs = minhash_signatures(
            uniq, num_hashes=P["num_hashes"], shingle_n=P["shingle_n"], seed=P["seed"], hash_mode=P["hash_mode"]
        )
        return sigs, lambda s: minhash_lsh_candidates(
            s, bands=P["bands"], rows_per_band=P["rows_per_band"], max_bucket_size=10_000,
            hot_bucket="skip", observation=Observation("dedup_caps"),
        )

    def _verify(self, uniq, cands):
        from pyppi_spark.operators.dedup import ngram_jaccard_pairs

        return ngram_jaccard_pairs(uniq, cands, threshold=self.jaccard, shingle_n=3)

    def _centroids(self):
        from pyppi_spark.operators.similarity import train_centroids_from_file

        return train_centroids_from_file(f"{self.work}/vectors.parquet", id_col="doc_id")

    def _semantic_pairs(self, centroids):
        from pyppi_spark.operators.similarity import semantic_dedup_pairs

        return semantic_dedup_pairs(self.documents, centroids, threshold=self.cosine, id_col="doc_id", dim=gen.DIM)

    def run_pass(self, spark, i: int) -> dict[str, float]:
        from pyppi_spark.operators.dedup import exact_dedup, near_dedup_representatives

        t0 = time.perf_counter()
        uniq = self._stage(spark, "exact_stage", exact_dedup(self.documents))
        sigs, lsh = self._candidates(uniq)
        pairs = self._stage(spark, "near_pairs", self._verify(uniq, lsh(sigs)).select("a", "b"))
        self._stage(spark, "documents_kept", near_dedup_representatives(uniq, pairs))
        t1 = time.perf_counter()
        self._stage(spark, "semantic_pairs", self._semantic_pairs(self._centroids()))
        t2 = time.perf_counter()
        return {"text_s": t1 - t0, "semantic_s": t2 - t1}

    def check(self, spark) -> tuple[list[str], dict]:
        def read(name):
            return pq.read_table(f"{self.work}/{name}").to_pandas()

        errs = checks.check_text_dedup(read("documents_kept")["doc_id"].to_numpy(), read("near_pairs"), self.d, self.jaccard)
        sem_errs, recall = checks.check_semantic(read("semantic_pairs"), self.d, self.cosine)
        return errs + sem_errs, {"semantic_recall": recall}

    def layers(self, spark, span) -> dict[str, float]:
        from pyppi_spark.operators.dedup import exact_dedup, near_dedup_representatives

        span("dedup.exact_dedup", lambda: noop(exact_dedup(self.documents)))
        uniq = spark.read.parquet(f"{self.work}/exact_stage")
        sigs, lsh = self._candidates(uniq)
        span("dedup.minhash_signatures", lambda: noop(sigs))
        sigs = self._stage(spark, "trace_sigs", sigs)
        span("dedup.minhash_lsh_candidates", lambda: noop(lsh(sigs)))
        cands = self._stage(spark, "trace_cands", lsh(sigs))
        span("dedup.ngram_jaccard_pairs", lambda: noop(self._verify(uniq, cands)))
        pairs = spark.read.parquet(f"{self.work}/near_pairs")
        span("dedup.near_dedup_representatives", lambda: noop(near_dedup_representatives(uniq, pairs)))
        cents = span("similarity.train_centroids_from_file", self._centroids)
        span("similarity.semantic_dedup_pairs", lambda: noop(self._semantic_pairs(cents)))
        n_cands = cands.count()
        return {
            "dedup.candidate_pairs": n_cands,
            "dedup.verified_over_candidates": pairs.count() / max(1, n_cands),
        }


WORKLOADS = {w.name: w for w in (FeaturesSkewed, CorpusDedup)}
