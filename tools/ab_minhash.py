"""A/B probe: lead-window vs shifted-zip minhash_signatures on the same
data, interleaved best-of-N in one process (CLAUDE.md drift protocol).
Internal measurement only."""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window, functions as F

from pyppi_spark.operators.dedup import (
    MERSENNE_P,
    _minhash_coeffs,
    _normalize,
    _word_hash,
    minhash_lsh_candidates,
    minhash_signatures,
)
from pyppi_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/bigsf/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
HASH_MODE = os.environ.get("HASH_MODE", "fast")


def old_signatures(df, text_col="text", id_col="doc_id", num_hashes=64,
                   shingle_n=3, seed=42, hash_mode="fast"):
    a, b = _minhash_coeffs(num_hashes, seed)
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(_normalize(text_col), " ")).alias("_pos", "_wd"),
    ).select(F.col(id_col), "_pos", _word_hash("_wd", hash_mode).alias("_h0"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    lead_cols = [F.lead("_h0", j).over(w).alias(f"_h{j}") for j in range(1, shingle_n)]
    sh = (
        words.select(F.col(id_col), "_pos", "_h0", *lead_cols)
        .where(F.col(f"_h{shingle_n - 1}").isNotNull() | (F.col("_pos") == 0))
        .select(
            F.col(id_col),
            F.pmod(
                _word_hash("concat_ws('|', " + ", ".join(f"_h{j}" for j in range(shingle_n)) + ")", hash_mode),
                F.lit(MERSENNE_P),
            ).alias("_h"),
        )
        .dropDuplicates([id_col, "_h"])
    )
    mins = [
        F.min(
            F.pmod(
                F.pmod(F.lit(a[i]) * F.col("_h"), F.lit(MERSENNE_P)) + F.lit(b[i]),
                F.lit(MERSENNE_P),
            )
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("minhash")
    )


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = build_spark("ab_minhash", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()

    # value identity first
    o = old_signatures(docs, hash_mode=HASH_MODE)
    n = minhash_signatures(docs, hash_mode=HASH_MODE)
    diff = o.withColumnRenamed("minhash", "m1").join(
        n.withColumnRenamed("minhash", "m2"), "doc_id"
    ).where(F.col("m1") != F.col("m2")).count()
    print(f"value diff rows: {diff}", flush=True)

    jobs = {
        "sigs_old": lambda: force(old_signatures(docs, hash_mode=HASH_MODE)),
        "sigs_new": lambda: force(minhash_signatures(docs, hash_mode=HASH_MODE)),
        "lsh_old": lambda: force(minhash_lsh_candidates(
            old_signatures(docs, hash_mode=HASH_MODE), bands=32, rows_per_band=2)),
        "lsh_new": lambda: force(minhash_lsh_candidates(
            minhash_signatures(docs, hash_mode=HASH_MODE), bands=32, rows_per_band=2)),
    }
    res = {k: [] for k in jobs}
    for _ in range(3):  # interleaved rounds
        for k, fn in jobs.items():
            spark.sparkContext.setJobDescription(k)
            t0 = time.perf_counter()
            fn()
            res[k].append(round(time.perf_counter() - t0, 2))
    for k, v in res.items():
        print(f"{k}: best {min(v)}  runs {v}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
