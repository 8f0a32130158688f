"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from ``SURVEY.md`` §2
through the pyppi_spark engine, over the driver's testdata tables; the
matching ``oracle_sql()`` entry is the ANSI-SQL ground truth DuckDB runs on
the same parquet.

Cross-engine float policy: aggregation-order-dependent doubles (sums,
means, percentiles) are ``round(x, 6)`` on BOTH sides (money sums at 4dp —
2dp sits on decimal half-way boundaries); bitwise-deterministic
derivations (e.g. a ratio of identical parquet doubles) are emitted RAW,
because both engines produce the identical IEEE value while their round()
implementations can disagree exactly at .5 decimal ties. Timestamps are
exported as integer epoch microseconds (``unix_micros`` / ``epoch_us``) so
value hashes are type- and representation-stable.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from pyppi_spark.operators import (
    asof_join,
    exact_dedup,
    ffill,
    minhash_lsh_candidates,
    minhash_signatures,
    range_join,
    simhash64,
    with_session_id,
)
from pyppi_spark.functions import lang_id, quality_score, token_count
from pyppi_spark.functions.text import char_stats
from pyppi_spark.functions.vectors import dot, l2_norm

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SESSION_GAP_S = 1800.0
# testdata embeddings are 64-wide at every SF (sizes the BLAS prune
# matrices; the JVM fold kernels don't need it)
EMBED_DIM = 64


def _us(col) -> F.Column:
    """Epoch microseconds (int64) — parquet NTZ timestamps need an explicit
    cast before unix_micros under Spark 4; session tz is UTC so the mapping
    equals DuckDB's epoch_us on naive timestamps."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))

# ---------------------------------------------------------------- helpers


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, spread across cores when the file is under-split.

    The testdata parquet is ONE row group per file, so the scan is 1-2
    partitions regardless of maxPartitionBytes — and every doc-scan stage
    (regex screens, md5 portable hashing, shingle explodes) then runs on
    1-2 of 32 cores. A deterministic hash repartition on doc_id (~15 MB of
    (id, text) at sf1.0) spreads that work; the guard makes it a NO-OP on
    real corpora whose scans already have enough splits, so nothing extra
    is ever shuffled at production scale (input-skew escape, guide §2.5)."""
    path = f"{sf_dir}/documents.parquet"
    docs = spark.read.parquet(path)
    n = spark.sparkContext.defaultParallelism
    # size gate: below ~4 MB the per-stage scheduling cost of the spread
    # exceeds the parallelism it buys (measured at sf0.1: split_leakage
    # +1.6 s from repeated spread stages vs −3 s at sf1.0 from 32-wide
    # hashing), so tiny inputs keep the unspread plan
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
            )
        else:
            size = os.path.getsize(path)
        big_enough = size >= 4 * 1024 * 1024
    except OSError:
        big_enough = True
    if big_enough and docs.rdd.getNumPartitions() < n:
        docs = docs.repartition(n, "doc_id")
    return docs


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _events_as_transcripts(ev: DataFrame) -> DataFrame:
    """Map the events stream onto the engine's transcript shape
    (user→conversation, event→turn)."""
    return ev.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("pointer")).alias("tool"),
        F.col("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full per-conversation feature vectors (sessionization +
    lag/lead transitions + latency aggregates) over sf0.001 events mapped to
    the transcript schema."""
    from pyppi_spark.plans import conv_features

    t = _events_as_transcripts(_events(spark, "/root/testdata/sf0.001"))
    return conv_features(t)


# ---------------------------------------------------------------- queries


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 sessionization → per-session bounds (SURVEY §2.5 W4, §2.4 A3)."""
    ev = _events(spark, sf_dir)
    s = with_session_id(
        ev, gap_s=SESSION_GAP_S, conv_col="user_id", ts_col="ts", idx_col="event_id"
    )
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            _us(F.min("ts")).alias("session_start_us"),
            _us(F.max("ts")).alias("session_end_us"),
            F.count(F.lit(1)).alias("session_len"),
        )
        .select("user_id", F.col("session_id").cast("long").alias("session_id"),
                "session_start_us", "session_end_us", "session_len")
    )


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 offset features + inter-event gaps (SURVEY §2.5)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = _us("ts")
    return ev.select(
        "user_id",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lag("event_type", 2).over(w).alias("prev2_type"),
        F.round((t - F.lag(t).over(w)) / 1e6, 6).alias("gap_prev_s"),
    )


def q_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 backfill: last click value carried forward per user (SURVEY §2.5 W5)."""
    ev = _events(spark, sf_dir).withColumn(
        "click_value", F.when(F.col("event_type") == "click", F.col("value"))
    )
    out = ffill(ev, ["click_value"], conv_col="user_id", ts_col="ts", idx_col="event_id")
    return out.select(
        "user_id",
        "event_id",
        F.round("click_value_ffill", 6).alias("click_value_ffill"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J10 point-in-time join: for each error event, the latest click
    at-or-before it (SURVEY §2.3 J2)."""
    ev = _events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("value"),
            F.max("event_id").alias("click_event_id"),
        )
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    out = asof_join(
        errors,
        clicks,
        probe_ts="ts",
        build_ts="ts",
        by=("user_id",),
        payload=["value", "click_event_id"],
        inclusive=True,
        tiebreak="click_event_id",
        prefix="last_click_",
    )
    return out.select(
        "user_id",
        _us("ts").alias("error_ts_us"),
        "error_id",
        F.round("last_click_value", 6).alias("last_click_value"),
        F.col("last_click_click_event_id").alias("last_click_event_id"),
    )


def q_asof_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunked-with-overlap merge strategy (giant-group fallback,
    SURVEY §7.3): identical semantics to ``asof_join`` but with probe rows
    split into per-user chunks and only carry-in/range build rows shipped
    to each cogroup — value-oracled against the SAME DuckDB ASOF JOIN, so
    the chunk/carry machinery is under the driver gate, not just pytest.
    chunk_rows=16 at sf0.01 exercises many chunk boundaries per user."""
    from pyppi_spark.operators.asof import asof_join_merge

    ev = _events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("value"),
            F.max("event_id").alias("click_event_id"),
        )
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    out = asof_join_merge(
        errors,
        clicks,
        probe_ts="ts",
        build_ts="ts",
        by=("user_id",),
        payload=["value", "click_event_id"],
        inclusive=True,
        tiebreak="click_event_id",
        prefix="last_click_",
        chunk_rows=16,
    )
    return out.select(
        "user_id",
        _us("ts").alias("error_ts_us"),
        "error_id",
        F.round("last_click_value", 6).alias("last_click_value"),
        F.col("last_click_click_event_id").alias("last_click_event_id"),
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J10 forward as-of: for each click, the first error at-or-after it
    (per user) — the mirror of the PIT backward join; ties on the error
    timestamp resolve to the min event_id (forward rule)."""
    ev = _events(spark, sf_dir)
    errors = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(
            F.min_by("value", "event_id").alias("value"),
            F.min("event_id").alias("error_event_id"),
        )
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        clicks,
        errors,
        probe_ts="ts",
        build_ts="ts",
        by=("user_id",),
        payload=["value", "error_event_id"],
        inclusive=True,
        tiebreak="error_event_id",
        prefix="next_error_",
        direction="forward",
    )
    return out.select(
        "user_id",
        _us("ts").alias("click_ts_us"),
        "click_id",
        F.round("next_error_value", 6).alias("next_error_value"),
        F.col("next_error_error_event_id").alias("next_error_id"),
    )


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 true-nearest join (the reference's kd-tree findNearest on the time
    axis, /root/reference/pyPPI/kdtree.py:38-48): for each purchase, the
    closest click in EITHER direction; equal |Δt| → backward wins."""
    ev = _events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("value"),
            F.max("event_id").alias("click_event_id"),
        )
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    out = asof_join(
        probes,
        clicks,
        probe_ts="ts",
        build_ts="ts",
        by=("user_id",),
        payload=["value", "click_event_id"],
        inclusive=True,
        tiebreak="click_event_id",
        prefix="near_",
        direction="nearest",
    )
    return out.select(
        "user_id",
        _us("ts").alias("purchase_ts_us"),
        "purchase_id",
        F.round("near_value", 6).alias("near_click_value"),
        F.col("near_click_event_id").alias("near_click_id"),
    )


ASOF_TOLERANCE_S = 900.0


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 band-limited PIT join: latest click at-or-before each error, but
    only within 900 s — stale matches become nulls (the reference's
    distance-BOUNDED nearest probe, NEIGHBOR_DISTANCE at
    /root/reference/pyPPI/pdbReader.py:134-143; pd.merge_asof tolerance)."""
    ev = _events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(
            F.max_by("value", "event_id").alias("value"),
            F.max("event_id").alias("click_event_id"),
        )
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    out = asof_join(
        errors,
        clicks,
        probe_ts="ts",
        build_ts="ts",
        by=("user_id",),
        payload=["value", "click_event_id"],
        inclusive=True,
        tiebreak="click_event_id",
        prefix="last_click_",
        tolerance=ASOF_TOLERANCE_S,
    )
    return out.select(
        "user_id",
        _us("ts").alias("error_ts_us"),
        "error_id",
        F.round("last_click_value", 6).alias("last_click_value"),
        F.col("last_click_click_event_id").alias("last_click_event_id"),
    )


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 via the engine's SECOND sessionization definition: the built-in
    ``session_window`` aggregation (the batch form of the streaming
    surface, §2.10). The oracle is the cumsum definition's session
    aggregates — putting the standing two-definition cross-check under the
    driver's hard gate (merge-on-touch == strictly-greater boundary)."""
    from pyppi_spark.streaming.sessions import session_window_aggregates

    ev = _events(spark, sf_dir)
    out = session_window_aggregates(
        ev, gap_s=SESSION_GAP_S, conv_col="user_id", ts_col="ts"
    )
    return out.select(
        "user_id",
        _us("session_start").alias("session_start_us"),
        _us("session_end").alias("session_end_us"),
        "session_len",
    )


def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 tumbling-window per-type counts — the batch form of
    streaming_turn_counts (same groupBy(window(...)) expression batch and
    streaming). Spark aligns windows to the 1970 epoch, DuckDB time_bucket
    to 2000-01-01; both origins are divisible by 10 minutes so the bucket
    boundaries coincide exactly."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            _us(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "value_sum",
        )
    )


def q_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2-family calendar features: activity profile by (ISO weekday,
    hour-of-day) bucket — the time-axis analog of the reference's
    geometric decomposition functions."""
    from pyppi_spark.functions.time import calendar_features

    ev = _events(spark, sf_dir)
    cal = calendar_features(F.col("ts"))
    return (
        ev.select("value", *[v.alias(k) for k, v in cal.items()])
        .groupBy("weekday", "hour_of_day", "is_weekend")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("value_mean"))
    )


def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3-A7 per-entity feature vector: counts by type, directed type-bigram
    transition counts (J12/A5 analog), latency aggregates, session count."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = _us("ts")
    s = with_session_id(
        ev, gap_s=SESSION_GAP_S, conv_col="user_id", ts_col="ts", idx_col="event_id"
    )
    # gaps accumulate as EXACT int64 microseconds: float mean-of-gaps is
    # association-order-dependent (Spark hash-agg vs DuckDB segment tree
    # disagree at the last ULP and round(x,6) flips on the boundary —
    # round-1 hash-fail); sum(int64)/1e6/count is one float op on identical
    # integer inputs → bitwise identical in both engines
    s = s.withColumn("prev_type", F.lag("event_type").over(w)).withColumn(
        "gap_us", t - F.lag(t).over(w)
    ).withColumn("gap_s", F.col("gap_us") / 1e6)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.countDistinct("event_type").alias("n_distinct_types"),
        (F.sum("gap_us") / F.lit(1e6) / F.count("gap_us")).alias("gap_mean_s"),
        (F.max("gap_us") / F.lit(1e6)).alias("gap_max_s"),
        F.round(F.expr("percentile(gap_s, 0.95)"), 6).alias("gap_p95_s"),
        _us(F.min("ts")).alias("first_ts_us"),
        _us(F.max("ts")).alias("last_ts_us"),
    ]
    for et in EVENT_TYPES:
        aggs.append(
            F.sum(F.when(F.col("event_type") == et, 1).otherwise(0)).alias(f"n_{et}")
        )
    for a in EVENT_TYPES:
        for b in EVENT_TYPES:
            aggs.append(
                F.sum(
                    F.when(
                        (F.col("prev_type") == a) & (F.col("event_type") == b), 1
                    ).otherwise(0)
                ).alias(f"t_{a}__{b}")
            )
    return s.groupBy("user_id").agg(*aggs)


def q_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship PIT snapshot: for each purchase event, the user's cumulative
    activity state at-or-before that moment (zero leakage) — cumulative
    windows + as-of join (pyppi_spark.plans.pit composition)."""
    from pyppi_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t = _us("ts")
    gap_us = t - F.lag(t).over(w)  # exact int64 µs (see q_user_features note)
    state = (
        ev.withColumn("_gap_us", gap_us)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.row_number().over(w).cast("long").alias("n_so_far"),
            # RAW doubles (no round): both engines divide identical exact
            # int64 values by the same constants → bitwise identical, while
            # round() itself can FLIP on true decimal half-way points
            # (Spark rounds the shortest repr, DuckDB the binary value)
            (F.sum("_gap_us").over(cum) / F.lit(1e6) / F.count("_gap_us").over(cum)).alias(
                "gap_mean_so_far_s"
            ),
            (F.max("_gap_us").over(cum) / F.lit(1e6)).alias("gap_max_so_far_s"),
            F.col("event_type").alias("last_type"),
        )
    )
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("probe_id")
    )
    out = asof_join(
        probes,
        state,
        probe_ts="ts",
        build_ts="ts",
        by=("user_id",),
        payload=["n_so_far", "gap_mean_so_far_s", "gap_max_so_far_s", "last_type"],
        inclusive=True,
        tiebreak="event_id",
        prefix="",
    )
    return out.select(
        "user_id",
        _us("ts").alias("probe_ts_us"),
        "probe_id",
        "n_so_far",
        "gap_mean_so_far_s",
        "gap_max_so_far_s",
        "last_type",
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 band join: events within ±300 s of each error event of the same
    user, counted (self excluded); zero-neighbor errors kept (SURVEY §2.3 J1)."""
    ev = _events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    neigh = range_join(
        errors,
        ev.select("user_id", "ts", "event_id"),
        before=300.0,
        after=300.0,
        by=("user_id",),
    )
    # J9 conditional join-split: one range join, then when()-tagged
    # conditional aggregation (the reference's collusion/contact split,
    # /root/reference/pyPPI/surfaceComplementarity/VDW.py:190-191)
    close = F.abs(F.unix_micros(F.col("r_ts").cast("timestamp")) - F.unix_micros(F.col("l_ts").cast("timestamp"))) / 1e6 <= 60.0
    counts = (
        neigh.where(F.col("r_event_id") != F.col("l_error_id"))
        .groupBy(F.col("l_error_id").alias("error_id"))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(F.when(close, 1).otherwise(0)).alias("n_close"),
        )
    )
    return (
        errors.join(counts, "error_id", "left")
        .select(
            "user_id",
            "error_id",
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            F.coalesce("n_close", F.lit(0)).alias("n_close"),
        )
    )


def q_spread_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 analog (NinterfaceAtoms): per (user, type) value spread with
    HAVING stddev > 0 (/root/reference/pyPPI/sqls/createInterface.sql:2-5)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.round(F.max("value") - F.min("value"), 6).alias("value_spread"),
            F.round(F.stddev("value"), 6).alias("value_std"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("value_std") > 0)
    )


def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 semi + J7/J8 anti joins: users with a high-value purchase (>100) but no severe error (value>200)."""
    ev = _events(spark, sf_dir)
    purchasers = ev.where((F.col("event_type") == "purchase") & (F.col("value") > 100)).select("user_id")
    erroring = ev.where((F.col("event_type") == "error") & (F.col("value") > 200)).select("user_id")
    base = ev.select("user_id").distinct()
    return (
        base.join(purchasers, "user_id", "left_semi")
        .join(erroring, "user_id", "left_anti")
        .select("user_id")
    )


def q_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 broadcast dimension join (donor/acceptor matrix analog): weight per
    event type, weighted value sum per user."""
    ev = _events(spark, sf_dir)
    dim = ev.sparkSession.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 3.0), ("error", -2.0)],
        "event_type string, weight double",
    )
    return (
        ev.join(F.broadcast(dim), "event_type", "inner")
        .groupBy("user_id")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 6).alias("weighted_value"))
    )


def q_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/O2 top-1 per group: the event carrying each user's max value
    (ties → max event_id), via window row_number (min_by/max_by analog)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_id").alias("top_event_id"),
                F.round("value", 6).alias("top_value"))
    )


def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General partial+final hash aggregation (TPC-H Q1 shape) — the A3/A4
    sum-per-entity pattern at relational scale."""
    li = _lineitem(spark, sf_dir)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup on documents: survivor doc_ids (min id per
    normalized text) — U2 union-with-key-dedup analog."""
    docs = _documents(spark, sf_dir)
    return exact_dedup(docs, text_col="text", id_col="doc_id").select("doc_id")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis functions: token count, char ratios, quality score,
    language-ID heuristic, content fingerprint (md5 for oracle parity)."""
    docs = _documents(spark, sf_dir)
    cs = char_stats("text")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        cs["n_chars"].alias("n_chars"),
        F.round(cs["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(cs["digit_ratio"], 6).alias("digit_ratio"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("lang_pred"),
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")).alias("fingerprint"),
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline over embeddings: top 10
    neighbors for query vectors vec_id < 5 (broadcast query side)."""
    # norms once per row before the join; per-pair work = one fold dot
    # (a full per-pair cosine does 3x the element work; see
    # functions/vectors.py for why the fold beats unrolled codegen)
    emb = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        l2_norm(F.col("embedding").cast("array<double>"), EMBED_DIM).alias("n"),
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("n").alias("qn")
    )
    pairs = emb.alias("c").join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot(F.col("qe"), F.col("e"), EMBED_DIM) / (F.col("qn") * F.col("n"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "neighbor_id", F.col("rk").cast("long").alias("rk"),
                F.round("cos", 6).alias("cos_sim"))
    )


def q_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 composite-key equi join: lineitem ⋈ orders with a post-join
    filter, per-order revenue (SURVEY §2.3 J4 — the createInterface.sql
    shape)."""
    li = _lineitem(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .where(F.col("o_orderstatus") == "F")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3/U4 set algebra on user sets: (clickers ∩ viewers) ∪ signups
    minus high-value purchasers, distinct (SURVEY §2.7)."""
    ev = _events(spark, sf_dir)

    def users(t):
        return ev.where(F.col("event_type") == t).select("user_id")

    both = users("click").intersect(users("view"))
    merged = both.union(users("signup")).distinct()
    high_purchasers = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 300))
        .select("user_id")
        .distinct()
    )
    return merged.exceptAll(high_purchasers).distinct()


def q_map_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/F13 broadcast-map code lookup with fallback: event_type → category
    via a MapType literal, coalesce to 'other' (the reference's residue
    3-letter→1-letter dict with X→C fallback,
    /root/reference/pyPPI/atom.py:4-28, /root/reference/pyPPI/ASA.py:14-21)."""
    ev = _events(spark, sf_dir)
    m = F.create_map(
        F.lit("click"), F.lit("engage"),
        F.lit("view"), F.lit("engage"),
        F.lit("purchase"), F.lit("convert"),
        F.lit("signup"), F.lit("convert"),
    )
    return (
        ev.withColumn("category", F.coalesce(F.element_at(m, F.col("event_type")), F.lit("other")))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("value_sum"))
    )


def q_window_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7/A9 group-max normalization: per event, value / max(value) over the
    user (the reference's periphery dist/max ratio,
    /root/reference/pyPPI/surfaceComplementarity/interfaceDepth.py:57-66)."""
    from pyppi_spark.operators.window_extras import with_group_normalized

    ev = _events(spark, sf_dir)
    out = with_group_normalized(ev, "value", conv_col="user_id")
    # no rounding: v/max(v) divides identical parquet doubles in both
    # engines (bitwise-deterministic); rounding can FLIP at exact .5
    # decimal ties where the two engines' round() implementations differ
    return out.select("user_id", "event_id", "value_norm")


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 analog: seeded sampling estimate. The reference's Monte-Carlo
    cavity volume is unseeded (/root/reference/pyPPI/cavities.py:53 — the
    documented defect); here sampling is a pure hash of the row key
    (md5-hex prefix → int), so the estimate is deterministic, partition-
    independent, and reproducible in the oracle."""
    ev = _events(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast("long") % 10
    sampled = ev.where(bucket == 0)
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.avg("value"), 6).alias("value_mean_est"),
    )


def q_table_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 table-driven signed offsets: per event type, read the event_type
    of the row at that type's declared offset (clicks +1, views +2,
    errors -1, purchases -2; signups unmapped → null)."""
    from pyppi_spark.operators.window_extras import with_table_driven_offsets

    ev = _events(spark, sf_dir)
    out = with_table_driven_offsets(
        ev,
        {"click": 1, "view": 2, "error": -1, "purchase": -2},
        value_col="event_type",
        spec_key_col="event_type",
        conv_col="user_id",
        ts_col="ts",
        idx_col="event_id",
    )
    return out.select("user_id", "event_id", F.col("offset_value").alias("offset_type"))


def q_bounded_lookahead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 bounded forward scan within a run: first error value among the
    next 5 events of the same session (stops at session boundary)."""
    from pyppi_spark.operators.window_extras import bounded_lookahead

    ev = _events(spark, sf_dir).withColumn(
        "err_value", F.when(F.col("event_type") == "error", F.col("value"))
    )
    s = with_session_id(
        ev, gap_s=SESSION_GAP_S, conv_col="user_id", ts_col="ts", idx_col="event_id"
    )
    out = bounded_lookahead(
        s, "err_value", k=5, conv_col="user_id", ts_col="ts", idx_col="event_id"
    )
    return out.select(
        "user_id",
        "event_id",
        F.round("err_value_next5_in_session", 6).alias("next_err_value"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: extract a typed field from the JSON
    props payload (get_json_object), aggregate per event type — the
    transcript-metadata analog (tool-call arguments ride JSON columns)."""
    ev = _events(spark, sf_dir)
    # try_cast: one malformed props value degrades to null instead of
    # aborting the job under ANSI strict casts (oracle mirrors via TRY_CAST)
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
        )
    )


def q_embed_threshold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-analog theta join in embedding space: all pairs (a<b) with
    cosine >= 0.45, EXACT — BLAS matmul prune (mapInPandas) + sequential
    codegen-dot verify (a theta join would evaluate the dot interpreted
    inside BroadcastNestedLoopJoin for every ordered pair)."""
    from pyppi_spark.operators.similarity import threshold_pairs_exact

    emb = _embeddings(spark, sf_dir)
    out = threshold_pairs_exact(emb, threshold=0.45, dim=EMBED_DIM)
    return out.select("a", "b", F.round("cos_sim", 6).alias("cos_sim"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-k. The coarse quantizer is pinned as a pure
    function of the embeddings parquet (numpy k-means over an md5-ordered
    sample — train_centroids_from_file), so the SQL oracle reproduces the
    ENTIRE query: assignment, probing, and exact scoring, value-for-value."""
    from pyppi_spark.operators.similarity import ivf_topk, train_centroids_from_file

    cents = train_centroids_from_file(
        f"{sf_dir}/embeddings.parquet", n_centroids=8, seed=42
    )
    emb = _embeddings(spark, sf_dir)
    out = ivf_topk(
        emb.where(F.col("vec_id") < 5), emb, k=10, n_probe=3, centroids=cents
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rk").cast("long").alias("rk"), "cos_sim"
    )


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k (Jégou et al.): coarse cells + PQ over residuals,
    asymmetric-distance shortlist, EXACT cosine re-rank. The whole index
    (centroids + codebooks) is pinned as a pure function of the embeddings
    parquet (train_ivf_pq_from_file), so the SQL oracle reproduces encode,
    probing, ADC scoring, and the exact re-rank value-for-value. This is
    the billion-vector serving shape: codes are ~50× smaller than vectors
    and unprobed cells cost zero work (zero I/O over a cell-partitioned
    index — see write_ivf_pq_index)."""
    from pyppi_spark.operators.similarity import (
        ivf_pq_encode, ivf_pq_topk, train_ivf_pq_from_file,
    )

    cents, books = train_ivf_pq_from_file(
        f"{sf_dir}/embeddings.parquet", n_centroids=8, m=8, n_codes=16, seed=42
    )
    emb = _embeddings(spark, sf_dir)
    index = ivf_pq_encode(emb, cents, books)
    out = ivf_pq_topk(
        emb.where(F.col("vec_id") < 5), index, cents, books,
        k=10, n_probe=3, rerank=emb,
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rk").cast("long").alias("rk"), "cos_sim"
    )


def q_semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): k-means
    cells (pinned as a pure function of the embeddings parquet —
    train_centroids_from_file), then cosine compared ONLY within a cell —
    pairwise work is Σ|cell|² instead of N², the candidate stage one
    fixed-width equi self-join on the cell id (the 100 TB shape; the
    cosine lives in a projection above the join). Oracle replays
    assignment (crk=1, ties → cid DESC) and the within-cell pair scan
    value-for-value."""
    from pyppi_spark.operators.similarity import (
        semantic_dedup_pairs, train_centroids_from_file,
    )

    cents = train_centroids_from_file(
        f"{sf_dir}/embeddings.parquet", n_centroids=8, seed=42
    )
    emb = _embeddings(spark, sf_dir)
    return semantic_dedup_pairs(
        emb, cents, threshold=0.45, dim=EMBED_DIM, assign_strategy="blas"
    ).select("a", "b", "cos_sim", F.col("cell").cast("long").alias("cell"))


def q_ngram_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified by exact n-gram Jaccard, survivors
    after near-dedup. Value-oracled end-to-end: survivors are determined
    by exact Jaccard over the candidate pairs, which the DuckDB oracle
    reproduces with brute-force all-pairs Jaccard + recursive components
    (the LSH candidate stage can only ADD pairs the verify stage rejects,
    so survivors hash-match exactly)."""
    from pyppi_spark.operators import minhash_signatures, minhash_lsh_candidates, ngram_jaccard_pairs
    from pyppi_spark.operators.dedup import near_dedup_representatives

    docs = _documents(spark, sf_dir)
    sigs = minhash_signatures(docs)
    cands = minhash_lsh_candidates(sigs, bands=32, rows_per_band=2)
    dups = ngram_jaccard_pairs(docs, cands, threshold=0.8)
    return near_dedup_representatives(docs, dups).select("doc_id")


# committed fixtures, resolved from this module's checkout so a second
# checkout (an A/B of two commits) reads its own files
FIXTURES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

# committed deterministic fixture (pyppi_spark.operators.multimodal.
# write_media_fixture, n=60 seed=42) — a real parquet file so the DuckDB
# oracle reads the identical binary payloads the Spark kernels consume
MEDIA_FIXTURE = os.path.join(FIXTURES_DIR, "media.parquet")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → Arrow mapInPandas feature
    kernel. Oracle verifies the decoder-independent byte-level columns
    (row fan-in, byte counts, an injective payload fingerprint) — the
    decode itself is a documented stub."""
    from pyppi_spark.operators.multimodal import image_features

    media = spark.read.parquet(MEDIA_FIXTURE)
    return image_features(media).select("media_id", "n_bytes", "payload_digest")


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling via flatMap-shaped mapInPandas (stubbed
    extractor). Oracle verifies the frame fan-out: count and timestamps
    per video."""
    from pyppi_spark.operators.multimodal import frame_sample

    media = spark.read.parquet(MEDIA_FIXTURE)
    return frame_sample(media, every_s=2.0).select("media_id", "frame_idx", "frame_ts_s")


def q_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/W8 analog: Needleman-Wunsch alignment of each conversation
    against an edited version (grouped-map DP kernel,
    /root/reference/pyPPI/alignment/NWAlignment.py:5-78 + resReduce.py:29-52
    traceback). The edited version deterministically drops every event whose
    md5-bucket ≡ 0 (mod 5), making it a SUBSEQUENCE — for which every
    optimal alignment provably consists of exactly (kept → match,
    dropped → del), so per-conversation op counts and the DP total score
    have a closed form the SQL oracle checks value-for-value."""
    from pyppi_spark.operators.align import align_conversations

    t = _events_as_transcripts(_events(spark, sf_dir))
    bucket = (
        F.conv(F.substring(F.md5(F.col("turn_idx").cast("string")), 1, 8), 16, 10).cast("long") % 5
    )
    right = t.where(bucket != 0)
    out = align_conversations(t, right)
    return (
        out.groupBy("conv_id")
        .agg(
            F.sum(F.when(F.col("op") == "match", 1).otherwise(0)).alias("n_match"),
            F.sum(F.when(F.col("op") == "del", 1).otherwise(0)).alias("n_del"),
            F.sum(F.when(F.col("op") == "ins", 1).otherwise(0)).alias("n_ins"),
            F.sum(F.when(F.col("op") == "sub", 1).otherwise(0)).alias("n_sub"),
            F.max("total_score").alias("score"),
        )
        .select(
            F.col("conv_id").cast("long").alias("user_id"),
            "n_match", "n_del", "n_ins", "n_sub", "score",
        )
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase salted aggregation; semantics = plain GROUP BY
    (the salt is physical only), so the oracle is the plain SQL."""
    from pyppi_spark.operators.salted_agg import salted_agg

    ev = _events(spark, sf_dir)
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": ("count", "*"),
            "value_sum": ("sum", "value"),
            "value_min": ("min", "value"),
            "value_max": ("max", "value"),
            "value_avg": ("avg", "value"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("value_sum", 4).alias("value_sum"),
        F.round("value_min", 6).alias("value_min"),
        F.round("value_max", 6).alias("value_max"),
        F.round("value_avg", 6).alias("value_avg"),
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs on documents. Portable hash
    mode (md5-prefix) so DuckDB reproduces the signatures bit-for-bit; the
    production path keeps xxhash64 (timed separately in bench.py)."""
    docs = _documents(spark, sf_dir)
    sigs = minhash_signatures(docs, num_hashes=64, shingle_n=3, seed=42, hash_mode="portable")
    return minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash document fingerprints (MOSS scheme) — the
    fingerprint set per document, portable hash for the oracle. Runs the
    zero-shuffle mapInPandas kernel (fingerprinting is doc-local); the
    relational formulation is the tested cross-check
    (tests/test_dedup.py::test_winnow_kernel_equals_relational)."""
    from pyppi_spark.operators.dedup import winnow_fingerprints_kernel

    docs = _documents(spark, sf_dir)
    return winnow_fingerprints_kernel(
        docs, k=7, window=4, hash_mode="portable",
        # testdata ships one row group per table → one scan split; spread
        # the doc-local kernel over the cores (text shuffles once, ~1.5 MB
        # at sf0.1 — an order of magnitude under the relational form)
        repartition_to=spark.sparkContext.defaultParallelism,
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced deterministic downsampling: 20 events per event_type
    by seeded hash order (the training-set rebalancing step; deterministic
    analog of the reference's unseeded Monte-Carlo sampling)."""
    from pyppi_spark.operators.sampling import stratified_sample

    ev = _events(spark, sf_dir)
    out = stratified_sample(
        ev, ["event_type"], n_per_group=20, id_col="event_id", seed=7
    )
    return out.select("event_type", "event_id", "user_id")


def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tokens by TF-IDF (text-analysis family). The
    inverse-document-frequency factor is the exact rational n_docs/df —
    not log-scaled — so the score is a pure function of integer counts and
    bitwise identical across engines (Java and libm log() disagree at the
    last ULP). Plan: one explode + two hash aggs + broadcast n_docs +
    window top-k."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", (F.col("tf") * F.col("n_docs")) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", F.col("rk").cast("long").alias("rk"), "tok", "tf", "df", "tfidf")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints, portable-hash variant emitted as two 32-bit
    halves so the oracle reproduces them exactly (the production simhash64
    keeps xxhash64 and one 64-bit word)."""
    from pyppi_spark.operators.dedup import simhash_portable32

    docs = _documents(spark, sf_dir)
    return simhash_portable32(docs)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc 8-gram overlap against an eval
    set (every 20th document), broadcast gram probe — the P1 membership
    screen of a training pipeline (reference analog: dim-table membership
    probes). Text-keyed (oracle-portable); production uses key='hash'."""
    from pyppi_spark.operators.decontaminate import decontaminate

    docs = _documents(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 20 == 0).select("text")
    out = decontaminate(docs, bench, n=8, key="text")
    # n_overlap/n_grams is an exact int ratio in double — RAW emit
    return out.select("doc_id", "n_grams", "n_overlap", "overlap_frac", "contaminated")


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII shape screening: email/phone/IPv4 pattern counts per document,
    pure regexp_count codegen (patterns are RE2-compatible so the oracle
    runs them verbatim)."""
    from pyppi_spark.functions.text import pii_stats

    docs = _documents(spark, sf_dir)
    s = pii_stats(F.col("text"))
    return docs.select("doc_id", *[v.alias(k) for k, v in s.items()])


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style filter signal): fraction of
    word 5-gram occurrences that repeat an earlier gram. Rows formulation
    (explode+lead+hashagg, whole-stage codegen) — measured 5× the HOF
    array form, which is kept as the composable scalar variant
    (functions.text.repetition_stats; equality tested)."""
    from pyppi_spark.operators.decontaminate import repetition_report

    docs = _documents(spark, sf_dir)
    return repetition_report(docs, n=5, key="text")


def q_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the custom stateful streaming operator
    (``streaming/sessions.streaming_running_state``): per-event running
    conversation state via cumulative windows — the per-turn snapshot
    stream the stateful fold emits when fed one-event micro-batches.
    Driver-gating this form puts the batch≡stateful semantics (asserted
    bitwise in tests/test_streaming.py) under the DuckDB oracle too."""
    from pyppi_spark.streaming.sessions import running_state_batch

    ev = _events(spark, sf_dir)
    st = running_state_batch(
        ev, conv_col="user_id", ts_col="ts", role_col="event_type", idx_col="event_id"
    )
    # exact int64-µs columns only: a 6dp-rounded mean of µs gaps lands on
    # half-way boundaries (sum/2 ends in .5µs), the one case the
    # cross-engine rounding policy cannot absorb
    return st.select(
        "user_id", "event_id", "n_turns", "gap_sum_us", "gap_max_us",
        "last_role", "last_ts_us",
    )


def q_clean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END document-hygiene composition under the driver gate:
    quality + language screens, exact (normalized-content) dedup, then
    MinHash-LSH -> exact-Jaccard near-dedup with transitive survivor
    selection (plans.training_set.clean_documents). Oracle = the same
    screens + brute-force all-pairs Jaccard + recursive-CTE components in
    DuckDB (LSH miss probability ~6e-15 at these parameters, so the
    survivor sets must match exactly)."""
    from pyppi_spark.plans.training_set import clean_documents

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    out = clean_documents(docs, min_quality=0.3, languages=("en",), jaccard_threshold=0.8)
    return out.select("doc_id", "quality", "lang_pred")


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (seeded portable-hash
    banding — membership stable across runs, partitionings, and corpus
    growth, unlike randomSplit) + per-split stratum counts so the oracle
    checks both the assignment and its statistical shape."""
    from pyppi_spark.operators.sampling import dataset_split

    docs = _documents(spark, sf_dir)
    split = dataset_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id", seed=42
    )
    return split.select("doc_id", "split")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step: document pairs sharing >=10 winnowing fingerprints
    (k=7, window=4, portable hash) with the shared count — the candidate
    join that turns per-doc fingerprints into overlap-based near-dup /
    plagiarism pairs. Structural recall: any shared substring of length
    >= k+window-1 produces >=1 shared fingerprint."""
    from pyppi_spark.operators.dedup import winnow_candidate_pairs, winnow_fingerprints_kernel

    docs = _documents(spark, sf_dir)
    # same split-spread as q_winnow: the testdata parquet is one row group
    # (one scan split), so without the repartition the md5-per-gram kernel
    # runs on a single core (measured 15 s vs ~2 s at sf1.0)
    fp = winnow_fingerprints_kernel(
        docs, k=7, window=4, hash_mode="portable",
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    # max_bucket_size is NOT optional at scale: a fingerprint shared by m
    # docs emits m(m-1)/2 join rows (uncapped measured 39 s vs 2.3 s at
    # sf0.1 — boilerplate k-grams are the dominant bucket class), and
    # dropping ubiquitous fingerprints only removes boilerplate evidence
    return winnow_candidate_pairs(fp, min_shared=10, max_bucket_size=200)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting for training budgets: whitespace word count plus
    the BPE-ish pre-tokenizer count (optional-leading-space letter / digit
    / symbol runs — the RE2-compatible simplification of the GPT-2
    pattern, identical regex on both engines) and chars-per-token.
    Pure regexp_count codegen, zero shuffle."""
    from pyppi_spark.functions.text import bpe_token_count, token_count

    docs = _documents(spark, sf_dir)
    n_ws = F.coalesce(token_count("text"), F.lit(0)).cast("long")
    n_bpe = bpe_token_count("text")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(
            F.coalesce(F.length("text"), F.lit(0)).cast("double")
            / F.greatest(n_bpe, F.lit(1)),
            6,
        ).alias("chars_per_token"),
    )


def q_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dedup END-TO-END: exact threshold pairs
    (BLAS prune + codegen-fold verify) -> transitive connected-component
    representatives over vec_ids — the fifth dedup family (semantic)
    composed to survivors like the MinHash/MOSS paths. Oracle =
    brute-force all-pairs cosine + recursive-CTE components."""
    from pyppi_spark.operators.dedup import near_dedup_representatives
    from pyppi_spark.operators.similarity import threshold_pairs_exact

    emb = _embeddings(spark, sf_dir)
    pairs = threshold_pairs_exact(emb, threshold=0.45, dim=EMBED_DIM).select("a", "b")
    out = near_dedup_representatives(emb, pairs, id_col="vec_id")
    return out.select("vec_id")


JSONL_FIXTURE = os.path.join(FIXTURES_DIR, "documents.jsonl")


def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family JSONL document ingest (the de-facto LLM-corpus feed):
    explicit schema (no double-pass inference), newline-delimited
    (splittable), PERMISSIVE corrupt-record quarantine — valid rows out,
    malformed lines preserved for a bad-row ledger (2 planted in the
    committed fixture). Oracle = DuckDB read_json over the same file
    (its ignore_errors null-fills bad lines, so both engines filter on
    doc_id IS NOT NULL)."""
    from pyppi_spark.sources.jsonl import read_jsonl_documents, split_corrupt

    df = read_jsonl_documents(
        spark, JSONL_FIXTURE,
        schema="doc_id bigint, text string, lang string, score double",
    )
    valid, _bad = split_corrupt(df)
    return valid.where(F.col("doc_id").isNotNull()).select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        "lang",
        F.round("score", 6).alias("score"),
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus health report — doc/NULL counts, whitespace +
    BPE-ish token budgets, PII-flagged docs, and the quality mass as an
    EXACT integer micro-unit sum (double sums across engines differ in
    low bits; int64 sums are associativity-free — the running_state
    lesson). One hash aggregation, map-side partials."""
    from pyppi_spark.functions import lang_id, quality_score, token_count
    from pyppi_spark.functions.text import bpe_token_count, pii_stats

    docs = _documents(spark, sf_dir)
    has_pii = pii_stats(F.col("text"))["has_pii"]
    return (
        docs.select(
            lang_id("text").alias("lang_pred"),
            F.col("text").isNull().cast("long").alias("_null"),
            F.coalesce(token_count("text"), F.lit(0)).alias("_ws"),
            bpe_token_count("text").alias("_bpe"),
            has_pii.cast("long").alias("_pii"),
            F.round(quality_score("text") * 1e6).cast("long").alias("_qm"),
        )
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_null").alias("n_null_text"),
            F.sum("_ws").alias("sum_ws_tokens"),
            F.sum("_bpe").alias("sum_bpe_tokens"),
            F.sum("_pii").alias("n_pii_docs"),
            F.sum("_qm").alias("quality_sum_micro"),
        )
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-increment shape (dedup the new shard
    against the frozen corpus WITHOUT re-pairing the old corpus): docs
    < 250 are the frozen history, >= 250 the increment. Exact stage:
    within-increment dedup + content-key anti-join vs history. Near
    stage: MinHash bands joined new-vs-(old ∪ new) only; increment docs
    near any old doc drop outright, new-only pairs get transitive
    representatives. The old side's band rows come in through the
    PERSISTED-table path (``old_bands=minhash_bands(old)``, the
    ``(id, band_idx, band_hash)`` artifact a production run materializes
    next to ``content_keys``) — the frozen corpus text is touched only by
    the Jaccard verify, never re-shingled (O(increment) per run, pytest
    scan-count-asserted in tests/test_dedup.py). Oracle = brute-force
    all-pairs Jaccard ground truth (LSH miss probability ~6e-15 at 32x2
    bands) + recursive components, mirroring the staged semantics
    exactly."""
    from pyppi_spark.operators.dedup import (
        content_keys,
        exact_dedup_incremental,
        minhash_bands,
        near_dedup_incremental,
    )

    docs = _documents(spark, sf_dir).select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    old = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    step1 = exact_dedup_incremental(new, content_keys(old))
    old_bands = minhash_bands(
        old, bands=32, rows_per_band=2, hash_mode="portable"
    )
    out = near_dedup_incremental(
        step1, old, bands=32, rows_per_band=2, threshold=0.8,
        hash_mode="portable", old_bands=old_bands,
    )
    return out.select("doc_id")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing over the documents table: whitespace
    token counts → hash-sharded groups (8) → per-group prefix sum →
    each doc's span exploded across its overlapped 128-token sequences.
    Oracle = identical md5-hash grouping + window sum + generate_series
    in DuckDB; placement is a pure function of (seed, ids, counts), so
    values must match bitwise."""
    from pyppi_spark.functions.text import token_count
    from pyppi_spark.operators.packing import pack_sequences

    docs = _documents(spark, sf_dir).select(
        "doc_id", F.coalesce(token_count("text"), F.lit(0)).alias("n_tokens")
    )
    return pack_sequences(
        docs, seq_len=128, n_groups=8, seed=42, hash_mode="portable"
    )


def q_moss_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MOSS near-dedup composition END-TO-END under the driver gate
    (plans.training_set.moss_dedup_documents): exact normalized-content
    dedup, winnowing fingerprints (k=7, window=4, portable hash),
    candidate pairs sharing >=10 fingerprints AND >=50% of the smaller
    doc's fingerprint set (ubiquitous fingerprints capped at 200),
    transitive survivor selection. Oracle = the identical staged
    composition in DuckDB (fingerprint selection is deterministic, so
    survivor sets must match exactly)."""
    from pyppi_spark.plans.training_set import moss_dedup_documents

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    out = moss_dedup_documents(
        docs, k=7, window=4, min_shared=10, min_overlap_frac=0.5,
        max_bucket_size=200, hash_mode="portable",
        # spread the one-row-group scan across cores (doc-local kernel)
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    return out.select("doc_id")


def q_moss_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MOSS dedup — the daily-increment shape for the
    overlap/plagiarism family (plans.training_set.moss_dedup_incremental):
    docs < 250 are the frozen history, >= 250 the increment. Exact stage:
    within-increment dedup + content-key anti-join vs history. Near
    stage: the increment is fingerprinted and joined new-vs-(old ∪ new)
    on the fingerprint value — old × old pairs never generated; an
    increment doc sharing >= 10 fingerprints AND >= 50% of the smaller
    doc's fingerprint set with ANY old doc drops outright, new-only pairs
    get transitive representatives. The old side comes in through the
    PERSISTED-fingerprint path (``old_fps``, the ``winnow_fps`` artifact
    ``jobs/dedup_corpus.py`` materializes) — unlike the MinHash family
    the verify needs no text at all, so the frozen corpus TEXT is never
    read (O(increment) per run). Oracle = the identical staged
    composition in DuckDB over the union fingerprint table."""
    from pyppi_spark.operators.dedup import (
        content_keys,
        exact_dedup_incremental,
        winnow_fingerprints_kernel,
    )
    from pyppi_spark.plans.training_set import moss_dedup_incremental

    docs = _documents(spark, sf_dir).select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    old = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    step1 = exact_dedup_incremental(new, content_keys(old))
    old_fps = winnow_fingerprints_kernel(
        old, k=7, window=4, hash_mode="portable"
    )
    out = moss_dedup_incremental(
        step1, old_fps=old_fps, k=7, window=4, min_shared=10,
        min_overlap_frac=0.5, max_bucket_size=200, hash_mode="portable",
        # spread the one-row-group scan across cores (doc-local kernel)
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    return out.select("doc_id")


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window document chunking with overlap (the standard
    pre-tokenization step of an LLM training pipeline): one row per
    (doc, chunk) — zero shuffle, pure array expressions + posexplode."""
    from pyppi_spark.functions.text import chunk_documents

    docs = _documents(spark, sf_dir)
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup join (Manku et al. WWW'07
    multi-table block-combination keys — at max_hamming=6 the chooser
    picks 28 tables of 2-block 16-bit keys). Candidate generation is
    pigeonhole-EXACT, so the oracle is the brute-force all-pairs popcount
    over the identical portable simhash values — the sets must match
    exactly."""
    from pyppi_spark.operators.dedup import simhash_near_dup_pairs

    docs = _documents(spark, sf_dir)
    return simhash_near_dup_pairs(docs, max_hamming=6, hash_mode="portable")


def q_pipe_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 external-process transform: every document piped through a real
    subprocess (sed, one process per partition, line protocol with a
    writer thread) — the reference's external-executable stage shape
    (bin/setupPpiDb.py:86-108 molprobity stage;
    pyPPI/surfaceComplementarity/VDW.py MSMS calls) re-expressed over
    mapInPandas. Oracle = the same byte-level substitution in SQL."""
    from pyppi_spark.operators.external import pipe_transform

    docs = _documents(spark, sf_dir).select("doc_id", "text")
    out = pipe_transform(docs, ["sed", "s/a/A/g"], out_col="piped", on_newline="strip")
    return out.select("doc_id", "piped")


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr audit view (Lee et al. 2021): maximal duplicated
    16-token spans per document — every length-16 window of the span
    occurs >= 2 times corpus-wide, overlapping hits merged. One
    hash-aggregate on the (gram hash, gram length) key + a per-document
    island window; portable md5-prefix hash for oracle parity."""
    from pyppi_spark.operators.span_dedup import duplicate_spans

    docs = _documents(spark, sf_dir)
    out = duplicate_spans(docs, k=16, hash_mode="portable")
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_grams",
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr CUT (Lee et al. 2021): every duplicated 16-token
    passage removed from the corpus in token space, keeping exactly the
    globally-first occurrence of each duplicated gram. The sixth dedup
    family's mutating form — text_clean + tokens-removed accounting."""
    from pyppi_spark.operators.span_dedup import exact_substring_dedup

    docs = _documents(spark, sf_dir)
    out = exact_substring_dedup(docs, k=16, hash_mode="portable")
    return out.select("doc_id", "text_clean", "n_tokens_removed")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-global line dedup over a derived
    multi-line view (documents re-lined at 8 tokens/line — the corpus
    ships single-line texts): any >= 8-char line occurring twice
    corpus-wide survives only at its first (doc_id, line_idx)
    occurrence. Exercises explode -> keeper hash-agg -> ordered
    re-assembly end-to-end."""
    from pyppi_spark.operators.span_dedup import WS_CLASS, line_dedup

    docs = _documents(spark, sf_dir)
    # re-line via pure codegen regex instead of the interpreted
    # transform-over-sequence lambda (measured ~3 s/eval at sf1.0, and the
    # view is evaluated once per scan of ml): split+join with " " ==
    # replacing every separator RUN with one space; the line structure ==
    # replacing every 8th single space with a newline (empty tokens from
    # leading \t/\n survive as empty [^ ]* matches, exactly like the
    # concat_ws re-assembly). concat_ws returned '' for NULL arrays, so
    # NULL text coalesces to '' to keep the view value-identical.
    norm = F.regexp_replace(F.trim(F.col("text")), WS_CLASS, " ")
    relined = F.regexp_replace(norm, r"((?:[^ ]* ){7}[^ ]*) ", "$1\n")
    ml = docs.select("doc_id", F.coalesce(relined, F.lit("")).alias("text"))
    out = line_dedup(ml, min_line_chars=8, hash_mode="portable")
    return out.select("doc_id", "text_clean", "n_lines_dropped")


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality score: per-doc mean token surprisal
    against the corpus's own unigram distribution, log2 quantized to whole
    bits via the exact integer identity floor(log2(n)) = length(bin(n))-1
    so the score is pure int64 arithmetic + one exact int-ratio double —
    bitwise portable to the DuckDB oracle (no libm log in either engine).
    Reference analog: corpus-derived propensity tables re-applied to each
    row (interfacePeriphery.py frequency scoring)."""
    from pyppi_spark.operators.quality_lm import unigram_surprisal

    docs = _documents(spark, sf_dir)
    return unigram_surprisal(docs).select("doc_id", "n_tokens", "sum_bits", "mean_bits")


MIX_BUDGETS = {"src1": 800, "src7": 500, "src12": 300}


def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: per-source BPE-token budgets, seeded
    hash-order prefix selection (the data-mixture step of training-set
    assembly). Weight = the engine's BPE pre-tokenizer count; prefix rule
    keep-while-cum≤budget; unlisted sources dropped."""
    from pyppi_spark.functions.text import bpe_token_count
    from pyppi_spark.operators.sampling import mix_sample

    docs = _documents(spark, sf_dir).withColumn("n_tok", bpe_token_count("text"))
    out = mix_sample(
        docs, "source", MIX_BUDGETS, weight_col="n_tok", id_col="doc_id", seed=11
    )
    return out.select("doc_id", "source", "n_tok", "cum_weight")


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: seeded shard in [0,8) plus a
    dense intra-shard position from an independent second hash draw —
    reading shards in position order replays one seeded permutation of
    the corpus; shard membership is stable under corpus growth."""
    from pyppi_spark.operators.sampling import shard_assign

    docs = _documents(spark, sf_dir)
    out = shard_assign(docs, n_shards=8, id_col="doc_id", seed=5)
    return out.select("doc_id", "shard", "pos")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality tiers: per-source rank-tertiles of
    unigram-LM mean surprisal. Rank buckets (ntile over a total order),
    not interpolated value quantiles — integer-exact and engine-portable
    (see quality_lm.rank_buckets)."""
    from pyppi_spark.operators.quality_lm import rank_buckets, unigram_surprisal

    docs = _documents(spark, sf_dir)
    scored = unigram_surprisal(docs).join(docs.select("doc_id", "source"), "doc_id")
    out = rank_buckets(scored, "source", "mean_bits")
    return out.select("doc_id", "source", "mean_bits", "bucket")


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: near-duplicate pairs (LSH
    candidates verified by exact trigram Jaccard >= 0.8) that STRADDLE the
    deterministic train/val/test split — each row is a leak a trainer must
    resolve before calling the eval set clean. Composition of
    dataset_split + the near-dedup pair machinery; pair volume is
    LSH-bounded, never all-pairs."""
    from pyppi_spark.operators import minhash_lsh_candidates, minhash_signatures
    from pyppi_spark.operators.dedup import ngram_jaccard_pairs
    from pyppi_spark.operators.sampling import dataset_split

    docs = _documents(spark, sf_dir)
    split = dataset_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id", seed=42
    ).select("doc_id", "split")
    sigs = minhash_signatures(docs)
    cands = minhash_lsh_candidates(sigs, bands=32, rows_per_band=2)
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.8)
    out = (
        pairs.join(
            split.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a")), "a"
        )
        .join(
            split.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b")), "b"
        )
        .where(F.col("split_a") != F.col("split_b"))
    )
    return out.select(
        "a", "b", "split_a", "split_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier score: cosine of every vector to its own
    label-group centroid (low = mislabeled/off-topic/junk). One narrow-row
    aggregation for the centroids, broadcast back, JVM fold cosine."""
    from pyppi_spark.operators.similarity import centroid_scores

    emb = _embeddings(spark, sf_dir)
    out = centroid_scores(emb)
    return out.select("vec_id", "label", F.round("cos_centroid", 6).alias("cos_centroid"))


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with stupid backoff, whole-bit quantized (pure int64 —
    see quality_lm.bigram_surprisal): the stronger quality screen that
    catches token salad a unigram LM scores as fluent."""
    from pyppi_spark.operators.quality_lm import bigram_surprisal

    docs = _documents(spark, sf_dir)
    return bigram_surprisal(docs).select("doc_id", "n_tokens", "sum_bits", "mean_bits")


QUALITY_BUDGETS = {"head": 600, "middle": 300}


def q_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality→mixture composition: CCNet per-source surprisal tiers,
    then token-budget resampling PER TIER (head gets 2× the middle budget,
    tail dropped) — the end-to-end 'filter by quality, then rebalance'
    step of training-set assembly, built from rank_buckets + mix_sample
    with the surprisal token count reused as the mixture weight."""
    from pyppi_spark.operators.quality_lm import rank_buckets, unigram_surprisal
    from pyppi_spark.operators.sampling import mix_sample

    docs = _documents(spark, sf_dir)
    scored = unigram_surprisal(docs).join(docs.select("doc_id", "source"), "doc_id")
    tiers = rank_buckets(scored, "source", "mean_bits")
    out = mix_sample(
        tiers, "bucket", QUALITY_BUDGETS, weight_col="n_tokens", id_col="doc_id", seed=13
    )
    return out.select("doc_id", "source", "bucket", "n_tokens", "cum_weight")


def q_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dedup: LSH candidates verified by exact trigram
    Jaccard >= 0.8, connected components, and each cluster keeps its
    LONGEST member (max n_chars, tie min doc_id) — the RefinedWeb
    keep-the-longest rule, vs the content-blind min-id default. The pair
    volume is LSH-bounded; the winner selection is two label-keyed aggs
    over membership rows only."""
    from pyppi_spark.operators import minhash_lsh_candidates, minhash_signatures
    from pyppi_spark.operators.dedup import ngram_jaccard_pairs, near_dedup_representatives

    docs = _documents(spark, sf_dir)
    sigs = minhash_signatures(docs)
    cands = minhash_lsh_candidates(sigs, bands=32, rows_per_band=2)
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.8)
    kept = near_dedup_representatives(docs, pairs, score_col="n_chars")
    return kept.select("doc_id", "n_chars")


FREQ_MIN_PPM = 2000


def q_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens >= 2000 ppm of all occurrences)
    via the bounded-memory two-pass scheme: batch-local Misra-Gries-style
    prune (guaranteed superset) + broadcast-candidate exact verify — the
    boilerplate/stopword discovery pass, without the unbounded-vocabulary
    shuffle of a naive group-by (operators/heavy_hitters.py)."""
    from pyppi_spark.operators.heavy_hitters import frequent_tokens

    docs = _documents(spark, sf_dir)
    return frequent_tokens(docs, min_ppm=FREQ_MIN_PPM)


def q_pit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time similarity retrieval: for each late query vector
    (vec_id >= 450; vec_id doubles as the time axis here), the top-5
    most-similar STRICTLY-EARLIER vectors — leak-free retrieval for
    RAG-style training examples, the as-of invariant applied to vector
    search (operators/similarity.py pit_topk)."""
    from pyppi_spark.operators.similarity import pit_topk

    emb = _embeddings(spark, sf_dir)
    probes = emb.where((F.col("vec_id") >= 450) & (F.col("vec_id") < 500))
    out = pit_topk(probes, emb, k=5, ts_col="vec_id", dim=EMBED_DIM)
    return out.select(
        "query_id", "neighbor_id", "rk", F.round("cos_sim", 6).alias("cos_sim")
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the duplicate-cluster size histogram (how
    many near-dup clusters of each size the corpus holds) — the report
    every dedup run prints before anyone trusts its drop rate. Same
    LSH-bounded pair machinery as quality_dedup; two tiny label-keyed
    aggs on top of components."""
    from pyppi_spark.operators import minhash_lsh_candidates, minhash_signatures
    from pyppi_spark.operators.dedup import ngram_jaccard_pairs, partition_components

    docs = _documents(spark, sf_dir)
    sigs = minhash_signatures(docs)
    cands = minhash_lsh_candidates(sigs, bands=32, rows_per_band=2)
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.8)
    comp = partition_components(pairs)
    sizes = comp.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace every email/phone/IPv4 shape with its typed
    placeholder (the transform counterpart of the pii_stats screen; same
    patterns, so redacted text re-screens to zero by construction). Pure
    chained regexp_replace — codegen, zero shuffle.

    n_redacted counts placeholders ACTUALLY inserted: each pattern is
    counted on the text state its replace pass sees (email count on the
    original, phone on the email-redacted text, IPv4 on the
    email+phone-redacted text) — summing all three raw pii_stats counts
    would double-count substrings matched by more than one pattern (a
    9-digit email local part also matches the phone shape)."""
    from pyppi_spark.functions.text import pii_redact, pii_redaction_count

    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        pii_redact("text").alias("text_redacted"),
        pii_redaction_count("text").alias("n_redacted"),
    )


DSIR_BUCKETS = 256
DSIR_K = 150


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): score every document
    by the whole-bit-quantized log ratio of hashed-n-gram likelihoods
    under target (lang='en') vs raw LMs, then take the top-k in the
    deterministic hash-tiebreak mode (the paper's top-k heuristic; the
    Gumbel sampler is the production mode, pytest-verified vs numpy).
    Pure int64 arithmetic end-to-end — fully value-oracled."""
    from pyppi_spark.operators.dsir import dsir_scores, gumbel_topk

    docs = _documents(spark, sf_dir)
    scored = dsir_scores(
        docs, docs.where(F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )
    out = gumbel_topk(scored, k=DSIR_K, seed=42, noise="hash")
    return out.select("doc_id", "n_grams", "sum_bits")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pit_features": q_pit_features,
        "sessionize": q_sessionize,
        "session_window_agg": q_session_window_agg,
        "tumbling_counts": q_tumbling_counts,
        "time_features": q_time_features,
        "lag_lead": q_lag_lead,
        "backfill": q_backfill,
        "asof_join": q_asof_join,
        "asof_chunked": q_asof_chunked,
        "asof_forward": q_asof_forward,
        "asof_nearest": q_asof_nearest,
        "asof_tolerance": q_asof_tolerance,
        "user_features": q_user_features,
        "range_join": q_range_join,
        "equi_join": q_equi_join,
        "set_ops": q_set_ops,
        "map_lookup": q_map_lookup,
        "window_norm": q_window_norm,
        "deterministic_sample": q_deterministic_sample,
        "table_offsets": q_table_offsets,
        "bounded_lookahead": q_bounded_lookahead,
        "json_extract": q_json_extract,
        "spread_agg": q_spread_agg,
        "semi_anti": q_semi_anti,
        "broadcast_dim": q_broadcast_dim,
        "min_by": q_min_by,
        "tpch_pricing": q_tpch_pricing,
        "dedup_exact": q_dedup_exact,
        "text_stats": q_text_stats,
        "similarity_topk": q_similarity_topk,
        "embed_threshold_join": q_embed_threshold_join,
        "salted_agg": q_salted_agg,
        "align": q_align,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_pq": q_ann_ivf_pq,
        "semdedup_pairs": q_semdedup_pairs,
        "ngram_near_dedup": q_ngram_near_dedup,
        "media_features": q_media_features,
        "frame_sample": q_frame_sample,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "winnow": q_winnow,
        "top_tokens": q_top_tokens,
        "stratified_sample": q_stratified_sample,
        "decontaminate": q_decontaminate,
        "pii_stats": q_pii_stats,
        "doc_repetition": q_doc_repetition,
        "running_state": q_running_state,
        "clean_docs": q_clean_docs,
        "dataset_split": q_dataset_split,
        "pipe_transform": q_pipe_transform,
        "simhash_near_dup": q_simhash_near_dup,
        "chunk_docs": q_chunk_docs,
        "winnow_pairs": q_winnow_pairs,
        "moss_dedup": q_moss_dedup,
        "moss_incremental": q_moss_incremental,
        "token_stats": q_token_stats,
        "embed_dedup": q_embed_dedup,
        "jsonl_scan": q_jsonl_scan,
        "pack_sequences": q_pack_sequences,
        "incremental_dedup": q_incremental_dedup,
        "corpus_report": q_corpus_report,
        "span_dedup": q_span_dedup,
        "substring_dedup": q_substring_dedup,
        "line_dedup": q_line_dedup,
        "unigram_surprisal": q_unigram_surprisal,
        "mix_sample": q_mix_sample,
        "shard_assign": q_shard_assign,
        "perplexity_buckets": q_perplexity_buckets,
        "split_leakage": q_split_leakage,
        "embed_outliers": q_embed_outliers,
        "bigram_surprisal": q_bigram_surprisal,
        "quality_mix": q_quality_mix,
        "dsir_select": q_dsir_select,
        "quality_dedup": q_quality_dedup,
        "pii_redact": q_pii_redact,
        "dup_clusters": q_dup_clusters,
        "pit_topk": q_pit_topk,
        "frequent_tokens": q_frequent_tokens,
    }


# ---------------------------------------------------------------- oracles

_SESSION_CTE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT *, (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT AS session_id
  FROM flagged
)
"""


def _user_features_sql() -> str:
    type_counts = ",\n  ".join(
        f"sum(CASE WHEN event_type = '{et}' THEN 1 ELSE 0 END)::BIGINT AS n_{et}"
        for et in EVENT_TYPES
    )
    bigrams = ",\n  ".join(
        f"sum(CASE WHEN prev_type = '{a}' AND event_type = '{b}' THEN 1 ELSE 0 END)::BIGINT AS t_{a}__{b}"
        for a in EVENT_TYPES
        for b in EVENT_TYPES
    )
    return f"""
{_SESSION_CTE}, enriched AS (
  SELECT *,
         lag(event_type) OVER w AS prev_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) AS gap_us,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6 AS gap_s
  FROM sessioned
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
  count(*)::BIGINT AS n_events,
  (max(session_id) + 1)::BIGINT AS n_sessions,
  count(DISTINCT event_type)::BIGINT AS n_distinct_types,
  sum(gap_us) / 1e6 / count(gap_us) AS gap_mean_s,
  max(gap_us) / 1e6 AS gap_max_s,
  round(quantile_cont(gap_s, 0.95), 6) AS gap_p95_s,
  epoch_us(min(ts)) AS first_ts_us,
  epoch_us(max(ts)) AS last_ts_us,
  {type_counts},
  {bigrams}
FROM enriched
GROUP BY user_id
"""


_NORM = r"regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')"
# the engine's BPE_TOKEN_PATTERN verbatim (RE2-compatible by construction)
from pyppi_spark.functions.text import BPE_TOKEN_PATTERN as _BPE_PAT  # noqa: E402
_NORM_COALESCED = r"regexp_replace(lower(trim(coalesce(text, ''))), '[ \t\n\r\f\x0B]+', ' ', 'g')"
_H32 = "('0x'||substr(md5({x}),1,8))::BIGINT"

# the PII patterns are RE2-compatible by construction (functions/text.py)
# so the oracle runs them VERBATIM — one source of truth for both engines
from pyppi_spark.functions.text import PII_PATTERNS as PII_SQL  # noqa: E402


def _minhash_lsh_sql(num_hashes: int = 64, seed: int = 42, bands: int = 16, rows_per_band: int = 4) -> str:
    """DuckDB mirror of minhash_signatures(hash_mode='portable') +
    minhash_lsh_candidates: identical word/shingle hashing (md5-prefix),
    identical universal-hash coefficients, banding joined on the raw band
    tuple (Spark's xxhash64 band key equality ⟺ tuple equality)."""
    from pyppi_spark.operators.dedup import MERSENNE_P, _minhash_coeffs

    a, b = _minhash_coeffs(num_hashes, seed)
    p = MERSENNE_P
    mins = ",\n    ".join(
        f"min((({a[i]} * hv) % {p} + {b[i]}) % {p}) AS m{i}" for i in range(num_hashes)
    )
    band_structs = ", ".join(
        "{'band_idx': %d, 'key': %s}"
        % (i, "||','||".join(f"m{i * rows_per_band + j}::VARCHAR" for j in range(rows_per_band)))
        for i in range(bands)
    )
    return f"""
WITH W AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
), H AS (
  SELECT doc_id, list_transform(ws, w -> {_H32.format(x='w')}) AS hs FROM W
), G AS (
  SELECT doc_id,
    CASE WHEN len(hs) < 3 THEN [array_to_string(hs, '|')]
         ELSE list_transform(generate_series(1, len(hs)-2),
                             i -> hs[i]::VARCHAR||'|'||hs[i+1]::VARCHAR||'|'||hs[i+2]::VARCHAR)
    END AS grams
  FROM H
), SHD AS (
  SELECT DISTINCT doc_id, ({_H32.format(x='g')}) % {p} AS hv
  FROM (SELECT doc_id, unnest(grams) AS g FROM G)
), SIG AS (
  SELECT doc_id,
    {mins}
  FROM SHD GROUP BY doc_id
), B AS (
  SELECT doc_id, u.band_idx AS band_idx, u.key AS key
  FROM (SELECT doc_id, unnest([{band_structs}]) AS u FROM SIG)
)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM B l JOIN B r ON l.band_idx = r.band_idx AND l.key = r.key AND l.doc_id < r.doc_id
"""


def _simhash_sql() -> str:
    """DuckDB mirror of simhash_portable32."""
    h0 = _H32.format(x="'0|'||t")
    h1 = _H32.format(x="'1|'||t")
    sums = ",\n    ".join(
        f"sum(CASE WHEN (h{0 if bit < 32 else 1} >> {bit % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b{bit}"
        for bit in range(64)
    )

    def assemble(bits):
        return (
            "("
            + " + ".join(f"(CASE WHEN b{bit} > 0 THEN {1 << (bit % 32)} ELSE 0 END)" for bit in bits)
            + ")::BIGINT"
        )

    return f"""
WITH T AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents
), H AS (
  SELECT doc_id, {h0} AS h0, {h1} AS h1 FROM T
), A AS (
  SELECT doc_id,
    {sums}
  FROM H GROUP BY doc_id
)
SELECT doc_id, {assemble(range(32, 64))} AS simhash_hi, {assemble(range(0, 32))} AS simhash_lo
FROM A
"""


def _ngram_near_dedup_sql(threshold: float = 0.8, shingle_n: int = 3) -> str:
    """Brute-force ground truth for the LSH pipeline: exact n-gram Jaccard
    over ALL pairs + transitive min-id components via a recursive CTE. At
    bands=32/rows=2 the LSH miss probability at s≥0.8 is (1−0.64)^32 ≈
    6e-15, so the pipelines must produce identical survivor sets."""
    assert shingle_n == 3
    return f"""
WITH RECURSIVE W AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
), S AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-2),
                            i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
    END AS sh
  FROM W
), P AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM S x JOIN S y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(x.sh || y.sh))::DOUBLE
        >= {threshold}
), N AS (SELECT a AS n FROM P UNION SELECT b FROM P
), E AS (SELECT a AS s, b AS d FROM P UNION SELECT b, a FROM P
), R(n, l) AS (
  SELECT n, n FROM N
  UNION
  SELECT e.d, r.l FROM R r JOIN E e ON r.n = e.s
), C AS (SELECT n, min(l) AS rep FROM R GROUP BY n)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT n FROM C WHERE n <> rep)
"""


def _ann_ivf_sql(
    sf_dir: str, n_centroids: int = 8, n_probe: int = 3, k: int = 10, seed: int = 42
) -> str:
    """DuckDB mirror of q_ann_ivf: the quantizer is a pure function of the
    ``sf_dir`` embeddings parquet (same numpy training the query runs), its
    centroids and norms inlined as literals; cell assignment (rk=1), probe
    set (rk<=n_probe), and exact cosine scoring replicate the Spark plan.
    Ties on centroid similarity order by cid DESC to match the engine's
    reverse(array_sort) (descending sim, then descending index). The oracle
    dict is built once per process, so ``sf_dir`` comes from the same
    ``SF_DIR`` env the checker reads (driver default sf0.01) — centroids
    always come from the dataset the query actually runs on."""
    import numpy as np
    from pyppi_spark.operators.similarity import train_centroids_from_file

    cents = train_centroids_from_file(
        f"{sf_dir}/embeddings.parquet", n_centroids=n_centroids, seed=seed
    )
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[], {float(np.linalg.norm(c))!r})"
        for i, c in enumerate(cents)
    )
    return f"""
WITH C(cid, cv, cn) AS (VALUES {rows}),
E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM embeddings
),
S AS (
  SELECT e.vec_id, e.v, e.n, c.cid,
         list_dot_product(e.v, c.cv) / (e.n * c.cn) AS cs
  FROM E e CROSS JOIN C c
),
R AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid DESC) AS crk
  FROM S
),
CAND AS (SELECT vec_id AS neighbor_id, v AS cv_, n AS cn_, cid AS cell FROM R WHERE crk = 1),
Q AS (SELECT vec_id AS query_id, v AS qv, n AS qn, cid AS cell FROM R WHERE crk <= {n_probe} AND vec_id < 5),
P AS (
  SELECT DISTINCT query_id, neighbor_id,
         list_dot_product(qv, cv_) / (qn * cn_) AS cos_sim
  FROM Q JOIN CAND USING (cell)
  WHERE neighbor_id != query_id
),
T AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM P
)
SELECT query_id, neighbor_id, rk::BIGINT AS rk, cos_sim FROM T WHERE rk <= {k}
"""


def _semdedup_pairs_sql(sf_dir: str, n_centroids: int = 8, threshold: float = 0.45, seed: int = 42) -> str:
    """DuckDB mirror of q_semdedup_pairs: centroids are the same pure
    function of the embeddings parquet (train_centroids_from_file), inlined
    as literals; assignment is crk=1 with ties → cid DESC (the engine's
    reverse(array_sort) order), then the within-cell pair scan with the
    raw-value threshold and 6dp-rounded emitted cosine."""
    import numpy as np
    from pyppi_spark.operators.similarity import train_centroids_from_file

    cents = train_centroids_from_file(
        f"{sf_dir}/embeddings.parquet", n_centroids=n_centroids, seed=seed
    )
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[], {float(np.linalg.norm(c))!r})"
        for i, c in enumerate(cents)
    )
    return f"""
WITH C(cid, cv, cn) AS (VALUES {rows}),
E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM embeddings
),
S AS (
  SELECT e.vec_id, e.v, e.n, c.cid,
         list_dot_product(e.v, c.cv) / (e.n * c.cn) AS cs
  FROM E e CROSS JOIN C c
),
R AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid DESC) AS crk
  FROM S
),
A AS (SELECT vec_id, v, n, cid AS cell FROM R WHERE crk = 1)
SELECT x.vec_id AS a, y.vec_id AS b,
       round(list_dot_product(x.v, y.v) / (x.n * y.n), 6) AS cos_sim,
       x.cell::BIGINT AS cell
FROM A x JOIN A y ON x.cell = y.cell AND x.vec_id < y.vec_id
WHERE list_dot_product(x.v, y.v) / (x.n * y.n) >= {threshold}
"""


def _ann_ivf_pq_sql(
    sf_dir: str,
    n_centroids: int = 8,
    m: int = 8,
    n_codes: int = 16,
    n_probe: int = 3,
    k: int = 10,
    rerank_factor: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB mirror of q_ann_ivf_pq. The IVFADC index is a pure function
    of the ``sf_dir`` embeddings parquet (train_ivf_pq_from_file); its
    centroids AND codebooks are inlined as literals, and the SQL replays
    the full pipeline: L2-normalize → cell assignment (argmin L2, ties →
    lower cid, matching numpy argmin) → residual PQ codes per subspace →
    probe the n_probe nearest cells per query (stable argsort ⇒ ORDER BY
    d2, cid) → inner-product ADC (Σ_j q_subⱼ·codebook[j][codeⱼ] + q·cell
    centroid) → shortlist top rerank_factor·k by (adc DESC, id) → EXACT
    cosine re-rank from the RAW vectors, top k by (cos DESC, id). Discrete
    decisions (cells, codes, probes, shortlist cut) are ULP-robust for
    continuous random data; the emitted cos_sim is rounded at 6dp like
    every cross-engine float here."""
    import numpy as np
    from pyppi_spark.operators.similarity import train_ivf_pq_from_file

    cents, books = train_ivf_pq_from_file(
        f"{sf_dir}/embeddings.parquet",
        n_centroids=n_centroids, m=m, n_codes=n_codes, seed=seed,
    )
    dim = cents.shape[1]
    sub = dim // m
    kk = rerank_factor * k
    cent_rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents)
    )
    book_rows = ", ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in books[j][c])}]::DOUBLE[])"
        for j in range(m)
        for c in range(n_codes)
    )
    return f"""
WITH C(cid, cv) AS (VALUES {cent_rows}),
B(j, c, bv) AS (VALUES {book_rows}),
E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
  FROM embeddings
),
U AS (
  SELECT vec_id, v, n,
         list_transform(v, x -> x / greatest(n, 1e-12)) AS u
  FROM E
),
D AS (
  SELECT u.vec_id, c.cid,
         list_dot_product(u.u, u.u) - 2 * list_dot_product(u.u, c.cv)
           + list_dot_product(c.cv, c.cv) AS d2,
         list_dot_product(u.u, c.cv) AS qc
  FROM U u CROSS JOIN C c
),
CELL AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM D) WHERE rn = 1
),
RES AS (
  SELECT u.vec_id, cl.cell,
         list_transform(generate_series(1, {dim}), i -> u.u[i] - c.cv[i]) AS r
  FROM U u JOIN CELL cl USING (vec_id) JOIN C c ON c.cid = cl.cell
),
JS(j) AS (SELECT unnest(generate_series(0, {m - 1}))),
RS AS (
  SELECT vec_id, cell, j, r[j * {sub} + 1 : j * {sub} + {sub}] AS rsub
  FROM RES CROSS JOIN JS
),
CODE AS (
  SELECT vec_id, cell, j, c FROM (
    SELECT rs.vec_id, rs.cell, rs.j, b.c,
           row_number() OVER (PARTITION BY rs.vec_id, rs.j ORDER BY
             list_dot_product(rs.rsub, rs.rsub) - 2 * list_dot_product(rs.rsub, b.bv)
               + list_dot_product(b.bv, b.bv), b.c) AS rn
    FROM RS rs JOIN B b ON b.j = rs.j) WHERE rn = 1
),
PROBE AS (
  SELECT vec_id AS query_id, cid AS cell, qc AS cnst FROM (
    SELECT vec_id, cid, qc,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM D WHERE vec_id < 5) WHERE rn <= {n_probe}
),
QS AS (
  SELECT vec_id AS query_id, j, u[j * {sub} + 1 : j * {sub} + {sub}] AS qsub
  FROM U CROSS JOIN JS WHERE vec_id < 5
),
ADC AS (
  SELECT p.query_id, cd.vec_id AS neighbor_id,
         sum(list_dot_product(qs.qsub, b.bv)) + p.cnst AS adc
  FROM PROBE p
  JOIN CODE cd ON cd.cell = p.cell AND cd.vec_id <> p.query_id
  JOIN QS qs ON qs.query_id = p.query_id AND qs.j = cd.j
  JOIN B b ON b.j = cd.j AND b.c = cd.c
  GROUP BY p.query_id, cd.vec_id, p.cnst
),
SHORT AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS rn
    FROM ADC) WHERE rn <= {kk}
),
RER AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.v, e.v) / (q.n * e.n) AS cos_sim
  FROM SHORT s
  JOIN E q ON q.vec_id = s.query_id
  JOIN E e ON e.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, rk::BIGINT AS rk, round(cos_sim, 6) AS cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM RER) WHERE rk <= {k}
"""


def _clean_docs_sql(score_cols: str, lang_case: str, min_quality: float = 0.3, threshold: float = 0.8) -> str:
    """Hygiene screens + exact dedup + brute-force near-dedup ground truth
    (the all-pairs Jaccard + recursive-components scheme of
    ``_ngram_near_dedup_sql``, applied after the quality/lang/exact-dedup
    stages exactly as ``clean_documents`` composes them)."""
    return rf"""
WITH RECURSIVE QL AS (
  SELECT doc_id, text,
    round(0.4 * least(length(text) / 200.0, 1.0)
        + 0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / greatest(length(text), 1))
        + 0.2 * (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1)) * 4.0, 1.0)), 6) AS quality,
    {{lang_case}} AS lang_pred
  FROM (SELECT doc_id, text, {{score_cols}} FROM documents)
), K AS (
  SELECT doc_id, text, quality, lang_pred FROM QL
  WHERE quality >= {min_quality} AND lang_pred IN ('en')
), X AS (
  SELECT doc_id, text, quality, lang_pred FROM (
    SELECT *, row_number() OVER (
      PARTITION BY regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')
      ORDER BY doc_id) AS rn
    FROM K) WHERE rn = 1
), W AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM X
), S AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-2),
                            i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
    END AS sh
  FROM W
), P AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM S x JOIN S y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE / len(list_distinct(x.sh || y.sh))::DOUBLE
        >= {threshold}
), N AS (SELECT a AS n FROM P UNION SELECT b FROM P
), E AS (SELECT a AS s, b AS d FROM P UNION SELECT b, a FROM P
), R(n, l) AS (
  SELECT n, n FROM N
  UNION
  SELECT e.d, r.l FROM R r JOIN E e ON r.n = e.s
), C AS (SELECT n, min(l) AS rep FROM R GROUP BY n)
SELECT doc_id, quality, lang_pred FROM X
WHERE doc_id NOT IN (SELECT n FROM C WHERE n <> rep)
""".format(lang_case=lang_case, score_cols=score_cols)


def _dataset_split_sql() -> str:
    """Bounds come from the SAME exact-rational helper the operator uses
    (`split_bounds`) — the oracle cannot drift from the engine on weight
    sets whose float partial sums round away from the nominal fractions."""
    from pyppi_spark.operators.sampling import split_bounds

    b = split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
SELECT doc_id,
  CASE WHEN ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT < {b[0]}
       THEN 'train'
       WHEN ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT < {b[1]}
       THEN 'val'
       ELSE 'test' END AS split
FROM documents
"""


def oracle_sql() -> dict[str, str]:
    from pyppi_spark.functions.text import LANG_MARKERS

    lang_scores = []
    for lang in sorted(LANG_MARKERS):
        terms = " + ".join(
            f"((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(m)})::BIGINT"
            for m in LANG_MARKERS[lang]
        )
        lang_scores.append(f"({terms})")
    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(f"{expr} AS s_{l}" for expr, l in zip(lang_scores, langs))
    m_expr = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    lang_case = (
        "CASE WHEN " + m_expr + " IS NULL OR " + m_expr + " = 0 THEN 'und' "
        + " ".join(f"WHEN s_{l} = {m_expr} THEN '{l}'" for l in langs[:-1])
        + f" ELSE '{langs[-1]}' END"
    )

    return {
        "pit_features": """
WITH gapped AS (
  SELECT user_id, ts, event_id, event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), state AS (
  SELECT user_id, ts, event_id,
         row_number() OVER w AS n_so_far,
         sum(gap_us) OVER cum / 1e6 / count(gap_us) OVER cum AS gap_mean_so_far_s,
         max(gap_us) OVER cum / 1e6 AS gap_max_so_far_s,
         event_type AS last_type
  FROM gapped
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         cum AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), probes AS (
  SELECT user_id, ts, event_id AS probe_id FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, epoch_us(p.ts) AS probe_ts_us, p.probe_id,
       s.n_so_far::BIGINT AS n_so_far,
       s.gap_mean_so_far_s, s.gap_max_so_far_s, s.last_type
FROM probes p ASOF LEFT JOIN state s ON p.user_id = s.user_id AND p.ts >= s.ts
""",
        "sessionize": _SESSION_CTE
        + """
SELECT user_id, session_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS session_end_us,
       count(*)::BIGINT AS session_len
FROM sessioned
GROUP BY user_id, session_id
""",
        "time_features": """
SELECT (date_part('isodow', ts) - 1)::BIGINT AS weekday,
       date_part('hour', ts)::BIGINT AS hour_of_day,
       (date_part('isodow', ts) - 1) >= 5 AS is_weekend,
       count(*)::BIGINT AS n,
       round(avg(value), 6) AS value_mean
FROM events
GROUP BY 1, 2, 3
""",
        "tumbling_counts": """
SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS window_start_us,
       event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1, 2
""",
        # ground truth for session_window is the OTHER sessionization
        # definition (cumsum over gap > threshold) — their agreement is the
        # point of the query
        "session_window_agg": _SESSION_CTE
        + """
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) AS session_end_us,
       count(*)::BIGINT AS session_len
FROM sessioned
GROUP BY user_id, session_id
""",
        "lag_lead": """
SELECT user_id, event_id,
       lag(event_type) OVER w AS prev_type,
       lead(event_type) OVER w AS next_type,
       lag(event_type, 2) OVER w AS prev2_type,
       round((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6, 6) AS gap_prev_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "backfill": """
SELECT user_id, event_id,
       round(last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS click_value_ffill
FROM events
""",
        "asof_join": """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events WHERE event_type = 'error'
)
SELECT e.user_id, epoch_us(e.ts) AS error_ts_us, e.error_id,
       round(c.value, 6) AS last_click_value,
       c.click_event_id AS last_click_event_id
FROM errors e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
""",
        "asof_chunked": """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events WHERE event_type = 'error'
)
SELECT e.user_id, epoch_us(e.ts) AS error_ts_us, e.error_id,
       round(c.value, 6) AS last_click_value,
       c.click_event_id AS last_click_event_id
FROM errors e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
""",
        "asof_forward": """
WITH errors AS (
  SELECT user_id, ts, arg_min(value, event_id) AS value, min(event_id) AS error_event_id
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
), clicks AS (
  SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'
)
SELECT c.user_id, epoch_us(c.ts) AS click_ts_us, c.click_id,
       round(e.value, 6) AS next_error_value,
       e.error_event_id AS next_error_id
FROM clicks c ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts <= e.ts
""",
        "asof_nearest": """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), probes AS (
  SELECT user_id, ts, event_id AS purchase_id FROM events WHERE event_type = 'purchase'
), b AS (
  SELECT p.user_id, p.ts, p.purchase_id, c.ts AS bts, c.value AS bvalue, c.click_event_id AS bid
  FROM probes p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
), f AS (
  SELECT p.purchase_id, c.ts AS fts, c.value AS fvalue, c.click_event_id AS fid
  FROM probes p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
), picked AS (
  SELECT b.user_id, b.ts, b.purchase_id,
         (b.bts IS NULL OR (f.fts IS NOT NULL
            AND (epoch_us(f.fts) - epoch_us(b.ts)) < (epoch_us(b.ts) - epoch_us(b.bts)))) AS take_fwd,
         b.bvalue, b.bid, f.fvalue, f.fid
  FROM b JOIN f ON b.purchase_id = f.purchase_id
)
SELECT user_id, epoch_us(ts) AS purchase_ts_us, purchase_id,
       round(CASE WHEN take_fwd THEN fvalue ELSE bvalue END, 6) AS near_click_value,
       CASE WHEN take_fwd THEN fid ELSE bid END AS near_click_id
FROM picked
""",
        "asof_tolerance": """
WITH clicks AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events WHERE event_type = 'error'
), m AS (
  SELECT e.user_id, e.ts, e.error_id, c.ts AS cts, c.value, c.click_event_id,
         (epoch_us(e.ts) - epoch_us(c.ts)) <= 900.0 * 1e6 AS in_band
  FROM errors e ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
)
SELECT user_id, epoch_us(ts) AS error_ts_us, error_id,
       round(CASE WHEN in_band THEN value END, 6) AS last_click_value,
       CASE WHEN in_band THEN click_event_id END AS last_click_event_id
FROM m
""",
        "user_features": _user_features_sql(),
        "range_join": """
WITH errors AS (
  SELECT user_id, ts, event_id AS error_id FROM events WHERE event_type = 'error'
), counts AS (
  SELECT e.error_id, count(*)::BIGINT AS n_neighbors,
         sum(CASE WHEN abs(epoch_us(v.ts) - epoch_us(e.ts)) / 1e6 <= 60.0
                  THEN 1 ELSE 0 END)::BIGINT AS n_close
  FROM errors e JOIN events v
    ON e.user_id = v.user_id
   AND v.ts >= e.ts - INTERVAL 300 SECOND
   AND v.ts <= e.ts + INTERVAL 300 SECOND
   AND v.event_id != e.error_id
  GROUP BY e.error_id
)
SELECT e.user_id, e.error_id, coalesce(c.n_neighbors, 0)::BIGINT AS n_neighbors,
       coalesce(c.n_close, 0)::BIGINT AS n_close
FROM errors e LEFT JOIN counts c ON e.error_id = c.error_id
""",
        "equi_join": """
SELECT o_orderkey, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
GROUP BY o_orderkey, o_orderpriority
""",
        "set_ops": """
SELECT DISTINCT user_id FROM (
  (SELECT user_id FROM events WHERE event_type = 'click'
   INTERSECT
   SELECT user_id FROM events WHERE event_type = 'view')
  UNION
  SELECT user_id FROM events WHERE event_type = 'signup'
)
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 300
""",
        "map_lookup": """
SELECT CASE event_type
         WHEN 'click' THEN 'engage'
         WHEN 'view' THEN 'engage'
         WHEN 'purchase' THEN 'convert'
         WHEN 'signup' THEN 'convert'
         ELSE 'other' END AS category,
       count(*)::BIGINT AS n,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1
""",
        "window_norm": """
SELECT user_id, event_id,
       CASE WHEN max(value) OVER (PARTITION BY user_id) > 0
            THEN value / max(value) OVER (PARTITION BY user_id) END AS value_norm
FROM events
""",
        "deterministic_sample": """
SELECT event_type, count(*)::BIGINT AS n_sampled,
       round(avg(value), 6) AS value_mean_est
FROM events
WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 10 = 0
GROUP BY event_type
""",
        "table_offsets": """
SELECT user_id, event_id,
       CASE event_type
         WHEN 'click' THEN lead(event_type, 1) OVER w
         WHEN 'view' THEN lead(event_type, 2) OVER w
         WHEN 'error' THEN lag(event_type, 1) OVER w
         WHEN 'purchase' THEN lag(event_type, 2) OVER w
       END AS offset_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
        "bounded_lookahead": _SESSION_CTE
        + """
SELECT user_id, event_id,
       round(first_value(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING), 6) AS next_err_value
FROM sessioned
""",
        "spread_agg": """
SELECT user_id, event_type,
       round(max(value) - min(value), 6) AS value_spread,
       round(stddev_samp(value), 6) AS value_std,
       count(*)::BIGINT AS n
FROM events
GROUP BY user_id, event_type
HAVING round(stddev_samp(value), 6) > 0
""",
        "semi_anti": """
SELECT DISTINCT user_id FROM events
WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 100)
  AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'error' AND value > 200)
""",
        "broadcast_dim": """
WITH dim(event_type, weight) AS (
  VALUES ('click', 1.0), ('view', 0.5), ('purchase', 5.0), ('signup', 3.0), ('error', -2.0)
)
SELECT e.user_id, round(sum(e.value * d.weight), 6) AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.user_id
""",
        "min_by": """
SELECT user_id, event_id AS top_event_id, round(value, 6) AS top_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rk
  FROM events
) WHERE rk = 1
""",
        "tpch_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "dedup_exact": r"""
SELECT min(doc_id) AS doc_id
FROM documents
GROUP BY regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')
""",
        "text_stats": rf"""
SELECT doc_id,
  (CASE WHEN length(trim(text)) = 0 THEN 0
        ELSE len(string_split_regex(trim(text), '[ \t\n\r\f\x0B]+')) END)::BIGINT AS n_tokens,
  length(text)::BIGINT AS n_chars,
  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
        / greatest(length(text), 1), 6) AS alpha_ratio,
  round(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
        / greatest(length(text), 1), 6) AS digit_ratio,
  round(0.4 * least(length(text) / 200.0, 1.0)
      + 0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / greatest(length(text), 1))
      + 0.2 * (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1)) * 4.0, 1.0)), 6) AS quality,
  {lang_case} AS lang_pred,
  md5(regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS fingerprint
FROM (SELECT doc_id, text, {score_cols} FROM (SELECT doc_id, text FROM documents))
""",
        "similarity_topk": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qe, ce) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS cos
  FROM q CROSS JOIN c WHERE query_id != neighbor_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, rk::BIGINT AS rk, round(cos, 6) AS cos_sim
FROM r WHERE rk <= 10
""",
        "json_extract": """
SELECT event_type,
       count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS n_with_k,
       sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS k_max
FROM events
GROUP BY event_type
""",
        "embed_threshold_join": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
""",
        "salted_agg": """
SELECT event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 4) AS value_sum,
       round(min(value), 6) AS value_min,
       round(max(value), 6) AS value_max,
       round(avg(value), 6) AS value_avg
FROM events
GROUP BY event_type
""",
        "media_features": f"""
SELECT media_id,
       octet_length(payload)::BIGINT AS n_bytes,
       sha256(hex(payload)) AS payload_digest
FROM read_parquet('{MEDIA_FIXTURE}')
WHERE kind = 'image'
""",
        "frame_sample": f"""
SELECT media_id,
       i::INT AS frame_idx,
       i * 2.0 AS frame_ts_s
FROM (
  SELECT media_id, unnest(generate_series(0, floor(duration_s / 2.0)::BIGINT - 1)) AS i
  FROM read_parquet('{MEDIA_FIXTURE}')
  WHERE kind = 'video'
)
""",
        "align": """
WITH d AS (
  SELECT user_id,
         CASE WHEN ('0x'||substr(md5(event_id::VARCHAR),1,8))::BIGINT % 5 = 0
              THEN 1 ELSE 0 END AS dropped
  FROM events
)
SELECT user_id,
       sum(1 - dropped)::BIGINT AS n_match,
       sum(dropped)::BIGINT AS n_del,
       0::BIGINT AS n_ins,
       0::BIGINT AS n_sub,
       2.0 * sum(1 - dropped) - sum(dropped) AS score
FROM d GROUP BY user_id
""",
        "minhash_lsh": _minhash_lsh_sql(num_hashes=64, seed=42, bands=16, rows_per_band=4),
        "simhash": _simhash_sql(),
        "ngram_near_dedup": _ngram_near_dedup_sql(threshold=0.8, shingle_n=3),
        "ann_ivf": _ann_ivf_sql(
            os.environ.get("SF_DIR", "/root/testdata/sf0.01"),
            n_centroids=8, n_probe=3, k=10, seed=42,
        ),
        "ann_ivf_pq": _ann_ivf_pq_sql(
            os.environ.get("SF_DIR", "/root/testdata/sf0.01"),
            n_centroids=8, m=8, n_codes=16, n_probe=3, k=10, seed=42,
        ),
        "semdedup_pairs": _semdedup_pairs_sql(
            os.environ.get("SF_DIR", "/root/testdata/sf0.01"),
            n_centroids=8, threshold=0.45, seed=42,
        ),
        "stratified_sample": """
SELECT event_type, event_id, user_id FROM (
  SELECT event_type, event_id, user_id,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY ('0x' || substr(md5('7|' || event_id::VARCHAR), 1, 8))::BIGINT, event_id
         ) AS rk
  FROM events
) WHERE rk <= 20
""",
        "top_tokens": f"""
WITH T AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
), TF AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM T GROUP BY doc_id, tok
), DFRQ AS (
  SELECT tok, count(*)::BIGINT AS df FROM TF GROUP BY tok
), N AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents)
SELECT doc_id, rk::BIGINT AS rk, tok, tf, df, tfidf FROM (
  SELECT tf.doc_id, tf.tok, tf.tf, d.df, (tf.tf * n.n_docs) / d.df AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id ORDER BY (tf.tf * n.n_docs) / d.df DESC, tf.tok) AS rk
  FROM TF tf JOIN DFRQ d ON tf.tok = d.tok CROSS JOIN N n
) WHERE rk <= 3
""",
        "decontaminate": f"""
WITH W AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
), G AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-7),
              i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]))
    END AS grams
  FROM W
), DG AS (
  SELECT doc_id, unnest(grams) AS g FROM G
), B AS (
  SELECT DISTINCT g FROM DG WHERE doc_id % 20 = 0
), T AS (
  SELECT doc_id, count(*)::BIGINT AS n_grams FROM DG GROUP BY doc_id
), O AS (
  SELECT doc_id, count(*)::BIGINT AS n_overlap FROM DG JOIN B USING (g) GROUP BY doc_id
)
SELECT t.doc_id, t.n_grams,
       coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(o.n_overlap, 0)::DOUBLE / t.n_grams AS overlap_frac,
       coalesce(o.n_overlap, 0) > 0 AS contaminated
FROM T t LEFT JOIN O o USING (doc_id)
""",
        "pii_stats": f"""
SELECT doc_id,
  coalesce(len(regexp_extract_all(text, '{PII_SQL["email"]}')), 0)::BIGINT AS n_email,
  coalesce(len(regexp_extract_all(text, '{PII_SQL["phone"]}')), 0)::BIGINT AS n_phone,
  coalesce(len(regexp_extract_all(text, '{PII_SQL["ipv4"]}')), 0)::BIGINT AS n_ipv4,
  (coalesce(len(regexp_extract_all(text, '{PII_SQL["email"]}')), 0) > 0
   OR coalesce(len(regexp_extract_all(text, '{PII_SQL["phone"]}')), 0) > 0
   OR coalesce(len(regexp_extract_all(text, '{PII_SQL["ipv4"]}')), 0) > 0) AS has_pii
FROM documents
""",
        "doc_repetition": f"""
WITH W AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
), G AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 5 THEN [array_to_string(ws, ' ')]
         ELSE list_transform(generate_series(1, len(ws)-4),
              i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
    END AS grams
  FROM W
)
SELECT doc_id,
       len(grams)::BIGINT AS n_grams_total,
       len(list_distinct(grams))::BIGINT AS n_grams_distinct,
       (len(grams) - len(list_distinct(grams)))::DOUBLE
         / greatest(len(grams), 1) AS repetition_frac
FROM G
""",
        "winnow": f"""
WITH N AS (
  SELECT doc_id, {_NORM} AS t FROM documents
), P AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 6, 1))) AS pos
  FROM N
), H AS (
  SELECT doc_id, pos, {_H32.format(x="substr(t, pos::INT, 7)")} AS h FROM P
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
FROM H
""",
        "token_stats": rf"""
SELECT doc_id,
  coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '[ \t\n\r\f\x0B]+')) END, 0)::BIGINT AS n_ws_tokens,
  coalesce(len(regexp_extract_all(text, '{_BPE_PAT}')), 0)::BIGINT AS n_bpe_tokens,
  round(coalesce(length(text), 0)::DOUBLE
        / greatest(coalesce(len(regexp_extract_all(text, '{_BPE_PAT}')), 0), 1), 6)
    AS chars_per_token
FROM documents
""",
        "jsonl_scan": f"""
SELECT doc_id, length(text)::BIGINT AS text_len, lang, round(score, 6) AS score
FROM read_json('{JSONL_FIXTURE}', format='newline_delimited',
               columns={{doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR', score: 'DOUBLE'}},
               ignore_errors=true)
WHERE doc_id IS NOT NULL
""",
        "embed_dedup": """
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), P AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45
), NN AS (SELECT a AS n FROM P UNION SELECT b FROM P
), E2 AS (SELECT a AS s, b AS d FROM P UNION SELECT b, a FROM P
), R(n, l) AS (
  SELECT n, n FROM NN
  UNION
  SELECT e2.d, r.l FROM R r JOIN E2 e2 ON r.n = e2.s
), C AS (SELECT n, min(l) AS rep FROM R GROUP BY n)
SELECT vec_id FROM e
WHERE vec_id NOT IN (SELECT n FROM C WHERE n <> rep)
""",
        "corpus_report": rf"""
WITH S AS (
  SELECT {lang_case} AS lang_pred,
    (text IS NULL)::BIGINT AS _null,
    coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '[ \t\n\r\f\x0B]+')) END, 0)::BIGINT AS _ws,
    coalesce(len(regexp_extract_all(text, '{_BPE_PAT}')), 0)::BIGINT AS _bpe,
    (coalesce(len(regexp_extract_all(text, '{PII_SQL["email"]}')), 0) > 0
     OR coalesce(len(regexp_extract_all(text, '{PII_SQL["phone"]}')), 0) > 0
     OR coalesce(len(regexp_extract_all(text, '{PII_SQL["ipv4"]}')), 0) > 0)::BIGINT AS _pii,
    round(round(0.4 * least(length(text) / 200.0, 1.0)
        + 0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / greatest(length(text), 1))
        + 0.2 * (1.0 - least((length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / greatest(length(text), 1)) * 4.0, 1.0)), 6) * 1e6)::BIGINT AS _qm
  FROM (SELECT doc_id, text, {score_cols} FROM documents)
)
SELECT lang_pred,
       count(*)::BIGINT AS n_docs,
       sum(_null)::BIGINT AS n_null_text,
       sum(_ws)::BIGINT AS sum_ws_tokens,
       sum(_bpe)::BIGINT AS sum_bpe_tokens,
       sum(_pii)::BIGINT AS n_pii_docs,
       sum(_qm)::BIGINT AS quality_sum_micro
FROM S GROUP BY lang_pred
""",
        "incremental_dedup": rf"""
WITH RECURSIVE OLDD AS (
  SELECT doc_id, text, {_NORM} AS norm FROM documents
  WHERE doc_id < 250 AND text IS NOT NULL
), NEWD AS (
  SELECT doc_id, text, {_NORM} AS norm FROM documents
  WHERE doc_id >= 250 AND text IS NOT NULL
), X AS (
  SELECT doc_id, text, norm FROM (
    SELECT *, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
    FROM NEWD) WHERE rn = 1
), X2 AS (
  SELECT doc_id, text, norm FROM X x
  WHERE NOT EXISTS (SELECT 1 FROM OLDD o WHERE o.norm = x.norm)
), SH AS (
  SELECT doc_id, is_new,
    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-2),
                            i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
    END AS sh
  FROM (
    SELECT doc_id, string_split(norm, ' ') AS ws, TRUE AS is_new FROM X2
    UNION ALL
    SELECT doc_id, string_split(norm, ' ') AS ws, FALSE FROM OLDD
  )
), PO AS (
  SELECT x.doc_id AS a
  FROM SH x JOIN SH y ON x.is_new AND NOT y.is_new
  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
        / len(list_distinct(x.sh || y.sh))::DOUBLE >= 0.8
), PN AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM SH x JOIN SH y ON x.is_new AND y.is_new AND x.doc_id < y.doc_id
  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
        / len(list_distinct(x.sh || y.sh))::DOUBLE >= 0.8
), NN AS (SELECT a AS n FROM PN UNION SELECT b FROM PN
), E AS (SELECT a AS s, b AS d FROM PN UNION SELECT b, a FROM PN
), R(n, l) AS (
  SELECT n, n FROM NN
  UNION
  SELECT e.d, r.l FROM R r JOIN E e ON r.n = e.s
), C AS (SELECT n, min(l) AS rep FROM R GROUP BY n)
SELECT doc_id FROM X2
WHERE doc_id NOT IN (SELECT DISTINCT a FROM PO)
  AND doc_id NOT IN (SELECT n FROM C WHERE n <> rep)
""",
        "pack_sequences": rf"""
WITH T AS (
  SELECT doc_id,
         coalesce(CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '[ \t\n\r\f\x0B]+')) END, 0)::BIGINT AS nt,
         ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents
), G AS (
  SELECT doc_id, nt, h, (h % 8)::INT AS group_id FROM T WHERE nt > 0
), S AS (
  SELECT doc_id, group_id, nt,
         sum(nt) OVER w - nt AS start,
         sum(nt) OVER w AS fin
  FROM G
  WINDOW w AS (PARTITION BY group_id ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), X AS (
  SELECT doc_id, group_id, nt, start,
         unnest(generate_series((start // 128)::BIGINT, ((fin - 1) // 128)::BIGINT)) AS seq_id
  FROM S
)
SELECT group_id, seq_id::BIGINT AS seq_id, doc_id,
       (greatest(start, seq_id * 128) - start)::BIGINT AS slice_start,
       (least(start + nt, (seq_id + 1) * 128) - start)::BIGINT AS slice_end,
       (greatest(start, seq_id * 128) - seq_id * 128)::BIGINT AS seq_offset
FROM X
""",
        "moss_incremental": rf"""
WITH RECURSIVE OLDD AS (
  SELECT doc_id, {_NORM} AS t FROM documents
  WHERE doc_id < 250 AND text IS NOT NULL
), NEWD AS (
  SELECT doc_id, {_NORM} AS t FROM documents
  WHERE doc_id >= 250 AND text IS NOT NULL
), X AS (
  SELECT doc_id, t FROM (
    SELECT *, row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
    FROM NEWD) WHERE rn = 1
), X2 AS (
  SELECT doc_id, t FROM X x
  WHERE NOT EXISTS (SELECT 1 FROM OLDD o WHERE o.t = x.t)
), U AS (
  SELECT doc_id, t, TRUE AS is_new FROM X2
  UNION ALL
  SELECT doc_id, t, FALSE FROM OLDD
), P AS (
  SELECT doc_id, is_new, t,
         unnest(generate_series(1, greatest(length(t) - 6, 1))) AS pos
  FROM U
), H AS (
  SELECT doc_id, is_new, pos, {_H32.format(x="substr(t, pos::INT, 7)")} AS h FROM P
), FP0 AS (
  SELECT DISTINCT doc_id, is_new,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
  FROM H
), CNT AS (
  SELECT doc_id, count(*) AS nfp FROM FP0 GROUP BY doc_id
), FP AS (
  SELECT doc_id, is_new, fingerprint FROM (
    SELECT *, count(*) OVER (PARTITION BY fingerprint) AS _c FROM FP0
  ) WHERE _c <= 200
), PR AS (
  SELECT a, b, new_b FROM (
    SELECT x.doc_id AS a, y.doc_id AS b, y.is_new AS new_b, count(*) AS n_shared
    FROM FP x JOIN FP y
      ON x.fingerprint = y.fingerprint
     AND x.is_new AND x.doc_id <> y.doc_id
     AND (NOT y.is_new OR x.doc_id < y.doc_id)
    GROUP BY a, b, new_b
    HAVING count(*) >= 10
  ) p JOIN CNT ca ON p.a = ca.doc_id JOIN CNT cb ON p.b = cb.doc_id
  WHERE n_shared >= 0.5 * least(ca.nfp, cb.nfp)
), PO AS (SELECT DISTINCT a FROM PR WHERE NOT new_b
), PN AS (SELECT a, b FROM PR WHERE new_b
), NN AS (SELECT a AS n FROM PN UNION SELECT b FROM PN
), E AS (SELECT a AS s, b AS d FROM PN UNION SELECT b, a FROM PN
), R(n, l) AS (
  SELECT n, n FROM NN
  UNION
  SELECT e.d, r.l FROM R r JOIN E e ON r.n = e.s
), C AS (SELECT n, min(l) AS rep FROM R GROUP BY n)
SELECT doc_id FROM X2
WHERE doc_id NOT IN (SELECT a FROM PO)
  AND doc_id NOT IN (SELECT n FROM C WHERE n <> rep)
""",
        "moss_dedup": rf"""
WITH RECURSIVE X AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (
      PARTITION BY regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')
      ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
), N AS (
  SELECT doc_id, {_NORM} AS t FROM X
), P AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 6, 1))) AS pos
  FROM N
), H AS (
  SELECT doc_id, pos, {_H32.format(x="substr(t, pos::INT, 7)")} AS h FROM P
), FP0 AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
  FROM H
), CNT AS (
  SELECT doc_id, count(*) AS nfp FROM FP0 GROUP BY doc_id
), FP AS (
  SELECT doc_id, fingerprint FROM (
    SELECT *, count(*) OVER (PARTITION BY fingerprint) AS _c FROM FP0
  ) WHERE _c <= 200
), PR AS (
  SELECT a, b FROM (
    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
    FROM FP x JOIN FP y ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
    GROUP BY a, b
    HAVING count(*) >= 10
  ) p JOIN CNT ca ON p.a = ca.doc_id JOIN CNT cb ON p.b = cb.doc_id
  WHERE n_shared >= 0.5 * least(ca.nfp, cb.nfp)
), NN AS (SELECT a AS n FROM PR UNION SELECT b FROM PR
), E AS (SELECT a AS s, b AS d FROM PR UNION SELECT b, a FROM PR
), R(n, l) AS (
  SELECT n, n FROM NN
  UNION
  SELECT e.d, r.l FROM R r JOIN E e ON r.n = e.s
), C AS (SELECT n, min(l) AS rep FROM R GROUP BY n)
SELECT doc_id FROM X
WHERE doc_id NOT IN (SELECT n FROM C WHERE n <> rep)
""",
        "winnow_pairs": f"""
WITH FP0 AS (WITH N AS (
  SELECT doc_id, {_NORM} AS t FROM documents
), P AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 6, 1))) AS pos
  FROM N
), H AS (
  SELECT doc_id, pos, {_H32.format(x="substr(t, pos::INT, 7)")} AS h FROM P
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
FROM H), FP AS (
  SELECT doc_id, fingerprint FROM (
    SELECT *, count(*) OVER (PARTITION BY fingerprint) AS _c FROM FP0
  ) WHERE _c <= 200
)
SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS n_shared
FROM FP x JOIN FP y ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
GROUP BY a, b
HAVING count(*) >= 10
""",
        "running_state": """
WITH G AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) AS ts_us, ts,
         (epoch_us(ts) - epoch_us(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id))) AS gap_us
  FROM events
)
SELECT user_id, event_id,
       row_number() OVER w AS n_turns,
       coalesce(sum(gap_us) OVER cum, 0)::BIGINT AS gap_sum_us,
       coalesce(max(gap_us) OVER cum, 0)::BIGINT AS gap_max_us,
       event_type AS last_role,
       ts_us AS last_ts_us
FROM G
WINDOW w   AS (PARTITION BY user_id ORDER BY ts, event_id),
       cum AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "clean_docs": _clean_docs_sql(score_cols, lang_case),
        "chunk_docs": f"""
WITH W AS (
  SELECT doc_id, string_split({_NORM_COALESCED}, ' ') AS ws FROM documents
), S AS (
  SELECT doc_id, ws, len(ws) AS n,
         unnest(generate_series(1, greatest(len(ws) - 8, 1), 24)) AS start
  FROM W
)
SELECT doc_id,
  (row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1)::BIGINT AS chunk_idx,
  start::BIGINT AS word_start,
  array_to_string(list_slice(ws, start, least(start + 31, n)), ' ') AS chunk_text,
  (least(start + 31, n) - start + 1)::BIGINT AS n_tokens,
  n::BIGINT AS n_tokens_doc
FROM S
""",
        "simhash_near_dup": f"""
WITH SH AS ({_simhash_sql()})
SELECT x.doc_id AS a, y.doc_id AS b,
       (bit_count(xor(x.simhash_hi, y.simhash_hi))
        + bit_count(xor(x.simhash_lo, y.simhash_lo)))::BIGINT AS hamming
FROM SH x JOIN SH y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash_hi, y.simhash_hi))
      + bit_count(xor(x.simhash_lo, y.simhash_lo)) <= 6
""",
        "pipe_transform": """
SELECT doc_id,
       replace(replace(replace(coalesce(text, ''), chr(13), ' '), chr(10), ' '),
               'a', 'A') AS piped
FROM documents
""",
        "dataset_split": _dataset_split_sql(),
        # ExactSubstr audit: duplicated 16-token spans, md5-prefix gram
        # keys mirroring the Spark portable hash exactly (collisions,
        # if any, merge identically in both engines)
        "span_dedup": rf"""
WITH T AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '[ \t\n\r\f\x0B]+') AS toks
  FROM documents
), G AS (
  SELECT doc_id, u.i AS pos, array_to_string(toks[u.i+1 : u.i+16], ' ') AS gram
  FROM T, unnest(range(0, len(toks) - 15)) AS u(i)
), K AS (
  SELECT doc_id, pos, {_H32.format(x="gram")} AS g, length(gram) AS gl FROM G
), C AS (
  SELECT g, gl FROM K GROUP BY g, gl HAVING count(*) >= 2
), O AS (
  SELECT K.doc_id, K.pos FROM K JOIN C USING (g, gl)
), M AS (
  SELECT doc_id, pos, pos + 16 AS e,
         max(pos + 16) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM O
), I AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM M
)
SELECT doc_id, min(pos)::BIGINT AS span_start, max(e)::BIGINT AS span_end,
       count(*)::BIGINT AS n_grams
FROM I GROUP BY doc_id, isl
""",
        # ExactSubstr cut: keep the globally-first occurrence of each
        # duplicated gram, cut every other occurrence in token space
        "substring_dedup": rf"""
WITH T AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '[ \t\n\r\f\x0B]+') AS toks
  FROM documents
), G AS (
  SELECT doc_id, u.i AS pos, array_to_string(toks[u.i+1 : u.i+16], ' ') AS gram
  FROM T, unnest(range(0, len(toks) - 15)) AS u(i)
), K AS (
  SELECT doc_id, pos, {_H32.format(x="gram")} AS g, length(gram) AS gl FROM G
), R AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY g, gl) AS c,
         row_number() OVER (PARTITION BY g, gl ORDER BY doc_id, pos) AS rn
  FROM K
), O AS (
  SELECT doc_id, pos FROM R WHERE c >= 2 AND rn > 1
), M AS (
  SELECT doc_id, pos, pos + 16 AS e,
         max(pos + 16) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM O
), I AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM M
), SP AS (
  SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
  FROM I GROUP BY doc_id, isl
), TOK AS (
  SELECT doc_id, u.i AS pos, toks[u.i+1] AS token
  FROM T, unnest(range(0, len(toks))) AS u(i)
), KEPT AS (
  SELECT t.doc_id, t.pos, t.token
  FROM TOK t LEFT JOIN SP s
    ON t.doc_id = s.doc_id AND t.pos >= s.span_start AND t.pos < s.span_end
  WHERE s.doc_id IS NULL
), RE AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS tc FROM KEPT GROUP BY doc_id
), REM AS (
  SELECT doc_id, sum(span_end - span_start)::BIGINT AS nrem FROM SP GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN rem.doc_id IS NULL THEN d.text
            ELSE coalesce(re.tc, '') END AS text_clean,
       coalesce(rem.nrem, 0)::BIGINT AS n_tokens_removed
FROM documents d
LEFT JOIN RE re ON d.doc_id = re.doc_id
LEFT JOIN REM rem ON d.doc_id = rem.doc_id
""",
        # C4-style line dedup over the derived 8-token-line view
        "line_dedup": rf"""
WITH T AS (
  SELECT doc_id, string_split_regex(trim(text), '[ \t\n\r\f\x0B]+') AS toks
  FROM documents
), L AS (
  SELECT doc_id, u.i AS line_idx,
         array_to_string(toks[u.i*8+1 : u.i*8+8], ' ') AS line
  FROM T, unnest(range(0, (len(toks)+7)//8)) AS u(i)
), R AS (
  SELECT doc_id, line_idx,
         row_number() OVER (PARTITION BY {_H32.format(x="line")}, length(line)
                            ORDER BY doc_id, line_idx) AS rn
  FROM L WHERE length(line) >= 8
), DROPPED AS (
  SELECT doc_id, line_idx FROM R WHERE rn > 1
), KEPT AS (
  SELECT l.doc_id, l.line_idx, l.line
  FROM L l LEFT JOIN DROPPED x
    ON l.doc_id = x.doc_id AND l.line_idx = x.line_idx
  WHERE x.doc_id IS NULL
), RE AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_idx) AS text_clean,
         count(*) AS nk
  FROM KEPT GROUP BY doc_id
), NL AS (
  SELECT doc_id, (len(toks)+7)//8 AS n FROM T
)
SELECT nl.doc_id, coalesce(re.text_clean, '') AS text_clean,
       (nl.n - coalesce(re.nk, 0))::BIGINT AS n_lines_dropped
FROM NL nl LEFT JOIN RE re ON nl.doc_id = re.doc_id
""",
        # floor(log2(n)) = length(bin(n)) - 1 exactly in BOTH engines, so
        # per-occurrence bits = length(bin(total)) - length(bin(tf)) is pure
        # int64; mean_bits is an exact int ratio in IEEE double (raw emit)
        "unigram_surprisal": f"""
WITH T AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
), DT AS (
  SELECT doc_id, tok, count(*)::BIGINT AS n FROM T GROUP BY doc_id, tok
), TF AS (
  SELECT tok, sum(n)::BIGINT AS tf FROM DT GROUP BY tok
), TOT AS (SELECT sum(tf)::BIGINT AS total FROM TF)
SELECT dt.doc_id,
       sum(dt.n)::BIGINT AS n_tokens,
       sum(dt.n * (length(bin(t.total)) - length(bin(tf.tf))))::BIGINT AS sum_bits,
       sum(dt.n * (length(bin(t.total)) - length(bin(tf.tf))))::DOUBLE
         / sum(dt.n)::DOUBLE AS mean_bits
FROM DT dt JOIN TF tf USING (tok) CROSS JOIN TOT t
GROUP BY dt.doc_id
""",
        "mix_sample": rf"""
WITH W AS (
  SELECT doc_id, source,
         coalesce(len(regexp_extract_all(text, '{_BPE_PAT}')), 0)::BIGINT AS n_tok
  FROM documents
  WHERE source IN ({", ".join(f"'{s}'" for s in MIX_BUDGETS)})
), C AS (
  SELECT doc_id, source, n_tok,
         sum(n_tok) OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('11|' || doc_id::VARCHAR), 1, 8))::BIGINT, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )::BIGINT AS cum_weight
  FROM W
)
SELECT doc_id, source, n_tok, cum_weight FROM C
WHERE cum_weight <= CASE source {" ".join(f"WHEN '{s}' THEN {b}" for s, b in MIX_BUDGETS.items())} END
""",
        "shard_assign": """
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY hp, doc_id)::BIGINT AS pos
FROM (
  SELECT doc_id,
         (('0x' || substr(md5('5|' || doc_id::VARCHAR), 1, 8))::BIGINT % 8)::BIGINT AS shard,
         ('0x' || substr(md5('6|' || doc_id::VARCHAR), 1, 8))::BIGINT AS hp
  FROM documents
)
""",
        # rank tertiles (ntile) over the exact int-ratio surprisal score —
        # integer-exact bucket membership, no interpolated-cutoff ulp flap
        "perplexity_buckets": f"""
WITH T AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
), DT AS (
  SELECT doc_id, tok, count(*)::BIGINT AS n FROM T GROUP BY doc_id, tok
), TF AS (
  SELECT tok, sum(n)::BIGINT AS tf FROM DT GROUP BY tok
), TOT AS (SELECT sum(tf)::BIGINT AS total FROM TF
), SC AS (
  SELECT dt.doc_id,
         sum(dt.n * (length(bin(t.total)) - length(bin(tf.tf))))::DOUBLE
           / sum(dt.n)::DOUBLE AS mean_bits
  FROM DT dt JOIN TF tf USING (tok) CROSS JOIN TOT t
  GROUP BY dt.doc_id
), B AS (
  SELECT s.doc_id, d.source, s.mean_bits,
         ntile(3) OVER (PARTITION BY d.source
                        ORDER BY s.mean_bits ASC, s.doc_id ASC) AS nt
  FROM SC s JOIN documents d USING (doc_id)
)
SELECT doc_id, source, mean_bits,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM B
""",
        # brute-force exact-Jaccard pairs (the LSH stage only prunes
        # candidates the verify stage would reject — same guarantee the
        # green ngram_near_dedup oracle rests on) x the md5 split banding
        "split_leakage": r"""
WITH W AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g'), ' ') AS ws FROM documents
), S AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-2),
                            i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
    END AS sh
  FROM W
), P AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         len(list_intersect(x.sh, y.sh))::DOUBLE
           / len(list_distinct(x.sh || y.sh))::DOUBLE AS jac
  FROM S x JOIN S y ON x.doc_id < y.doc_id
), SP AS (
  SELECT doc_id,
    CASE WHEN ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT < 3435973836
         THEN 'train'
         WHEN ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT < 3865470566
         THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT p.a, p.b, sa.split AS split_a, sb.split AS split_b,
       round(p.jac, 6) AS jaccard
FROM P p
JOIN SP sa ON p.a = sa.doc_id
JOIN SP sb ON p.b = sb.doc_id
WHERE p.jac >= 0.8 AND sa.split <> sb.split
""",
        "embed_outliers": f"""
WITH E AS (
  SELECT label, g.i AS pos, embedding[g.i]::DOUBLE AS v
  FROM embeddings, generate_series(1, {EMBED_DIM}) AS g(i)
), C AS (
  SELECT label, pos, avg(v) AS c FROM E GROUP BY label, pos
), CV AS (
  SELECT label, list(c ORDER BY pos) AS cent FROM C GROUP BY label
)
SELECT e.vec_id, e.label,
       round(
         list_dot_product(list_transform(e.embedding, x -> x::DOUBLE), cv.cent)
         / (sqrt(list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                                  list_transform(e.embedding, x -> x::DOUBLE)))
            * sqrt(list_dot_product(cv.cent, cv.cent))), 6) AS cos_centroid
FROM embeddings e JOIN CV cv USING (label)
""",
        # stupid-backoff bigram LM, same whole-bit integer quantization:
        # seen bigram costs bits(cf)-bits(bf); unseen backs off to the
        # unigram cost + 3 bits; document-initial token is unigram-scored
        "bigram_surprisal": f"""
WITH W AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS ws FROM documents
), G AS (
  SELECT doc_id, s.pos AS pos, s.w1 AS w1, s.w2 AS w2
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws)), i ->
             {{'pos': i, 'w2': ws[i],
               'w1': CASE WHEN i > 1 THEN ws[i-1] END}})) AS s
    FROM W
  )
), BF AS (
  SELECT w1, w2, count(*)::BIGINT AS bf FROM G WHERE w1 IS NOT NULL GROUP BY w1, w2
), CF AS (
  SELECT w1, count(*)::BIGINT AS cf FROM G WHERE w1 IS NOT NULL GROUP BY w1
), UNI AS (
  SELECT w2, count(*)::BIGINT AS tf FROM G GROUP BY w2
), TOT AS (SELECT sum(tf)::BIGINT AS total FROM UNI
), J AS (
  SELECT g.doc_id,
         CASE WHEN g.w1 IS NULL THEN length(bin(t.total)) - length(bin(u.tf))
              WHEN bf.bf IS NOT NULL THEN length(bin(cf.cf)) - length(bin(bf.bf))
              ELSE length(bin(t.total)) - length(bin(u.tf)) + 3 END AS bits
  FROM G g
  LEFT JOIN BF bf ON g.w1 = bf.w1 AND g.w2 = bf.w2
  LEFT JOIN CF cf ON g.w1 = cf.w1
  JOIN UNI u ON g.w2 = u.w2
  CROSS JOIN TOT t
)
SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(bits)::BIGINT AS sum_bits,
       sum(bits)::DOUBLE / count(*)::DOUBLE AS mean_bits
FROM J GROUP BY doc_id
""",
        # quality→mixture composition: surprisal tiers per source, then
        # the hash-order token-budget prefix per TIER (tail dropped)
        "quality_mix": f"""
WITH T AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok FROM documents
), DT AS (
  SELECT doc_id, tok, count(*)::BIGINT AS n FROM T GROUP BY doc_id, tok
), TF AS (
  SELECT tok, sum(n)::BIGINT AS tf FROM DT GROUP BY tok
), TOT AS (SELECT sum(tf)::BIGINT AS total FROM TF
), SC AS (
  SELECT dt.doc_id,
         sum(dt.n)::BIGINT AS n_tokens,
         sum(dt.n * (length(bin(t.total)) - length(bin(tf.tf))))::DOUBLE
           / sum(dt.n)::DOUBLE AS mean_bits
  FROM DT dt JOIN TF tf USING (tok) CROSS JOIN TOT t
  GROUP BY dt.doc_id
), B AS (
  SELECT s.doc_id, d.source, s.n_tokens,
         ntile(3) OVER (PARTITION BY d.source
                        ORDER BY s.mean_bits ASC, s.doc_id ASC) AS nt
  FROM SC s JOIN documents d USING (doc_id)
), L AS (
  SELECT doc_id, source, n_tokens,
         CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
  FROM B
), C AS (
  SELECT doc_id, source, bucket, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY bucket
           ORDER BY ('0x' || substr(md5('13|' || doc_id::VARCHAR), 1, 8))::BIGINT, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )::BIGINT AS cum_weight
  FROM L WHERE bucket IN ('head', 'middle')
)
SELECT doc_id, source, bucket, n_tokens, cum_weight FROM C
WHERE cum_weight <= CASE bucket WHEN 'head' THEN 600 ELSE 300 END
""",
        # DSIR: hashed uni+bigram bucket tables for target (lang='en') and
        # raw corpora, whole-bit-quantized log importance ratio (pure
        # int64), deterministic hash-tiebreak top-k
        "dsir_select": f"""
WITH W AS (
  SELECT doc_id, lang, string_split({_NORM}, ' ') AS ws FROM documents
), G AS (
  SELECT doc_id, lang, unnest(
    list_concat(ws, list_transform(generate_series(1, greatest(len(ws)-1, 0)),
                                   i -> ws[i] || ' ' || ws[i+1]))) AS gram
  FROM W
), HB AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('0|' || gram), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM G
), DB AS (
  SELECT doc_id, bucket, count(*)::BIGINT AS n FROM HB GROUP BY 1, 2
), Q AS (SELECT bucket, sum(n)::BIGINT AS tfq FROM DB GROUP BY 1
), P AS (SELECT bucket, count(*)::BIGINT AS tfp FROM HB WHERE lang = 'en' GROUP BY 1
), TQ AS (SELECT sum(tfq)::BIGINT AS totq FROM Q
), TP AS (SELECT sum(tfp)::BIGINT AS totp FROM P
), SC AS (
  SELECT db.doc_id,
         sum(db.n)::BIGINT AS n_grams,
         sum(db.n * ((length(bin(tq.totq)) - length(bin(q.tfq)))
                   - (length(bin(tp.totp)) - length(bin(coalesce(p.tfp, 1))))))::BIGINT
           AS sum_bits
  FROM DB db
  JOIN Q q USING (bucket)
  LEFT JOIN P p USING (bucket)
  CROSS JOIN TQ tq CROSS JOIN TP tp
  GROUP BY db.doc_id
)
SELECT doc_id, n_grams, sum_bits
FROM SC
ORDER BY sum_bits DESC,
         ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))::BIGINT ASC,
         doc_id ASC
LIMIT {DSIR_K}
""",
        # quality-aware near-dedup: brute-force exact-Jaccard pairs (the
        # LSH stage only prunes candidates the verify stage would reject),
        # recursive-CTE components, keep max n_chars / tie min doc_id
        "quality_dedup": r"""
WITH RECURSIVE W AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g'), ' ') AS ws
  FROM documents
), S AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-2),
                            i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
    END AS sh
  FROM W
), P AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM S x JOIN S y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
          / len(list_distinct(x.sh || y.sh))::DOUBLE >= 0.8
), NN AS (SELECT a AS n FROM P UNION SELECT b FROM P
), E2 AS (SELECT a AS s, b AS d FROM P UNION SELECT b, a FROM P
), R(n, l) AS (
  SELECT n, n FROM NN
  UNION
  SELECT e2.d, r.l FROM R r JOIN E2 e2 ON r.n = e2.s
), C AS (SELECT n, min(l) AS label FROM R GROUP BY n
), M AS (SELECT c.n, c.label, d.n_chars FROM C c JOIN documents d ON c.n = d.doc_id
), B AS (SELECT label, max(n_chars) AS best FROM M GROUP BY label
), WIN AS (
  SELECT m.label, min(m.n) AS winner
  FROM M m JOIN B b ON m.label = b.label AND m.n_chars = b.best
  GROUP BY m.label
)
SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id NOT IN (
  SELECT m.n FROM M m JOIN WIN w ON m.label = w.label WHERE m.n <> w.winner
)
""",
        # chained PII scrubbing with the same RE2-portable patterns the
        # pii_stats screen counts (email first — see functions/text.py);
        # n_redacted counts each pass on the text state it sees, so
        # overlapping matches (digit email local part ~ phone shape) are
        # not double-counted
        "pii_redact": f"""
WITH S AS (
  SELECT doc_id, text AS t0,
         regexp_replace(text, '{PII_SQL["email"]}', '<EMAIL>', 'g') AS t1
  FROM documents
), S2 AS (
  SELECT doc_id, t0, t1,
         regexp_replace(t1, '{PII_SQL["phone"]}', '<PHONE>', 'g') AS t2
  FROM S
)
SELECT doc_id,
  regexp_replace(t2, '{PII_SQL["ipv4"]}', '<IP>', 'g') AS text_redacted,
  coalesce(len(regexp_extract_all(t0, '{PII_SQL["email"]}'))
   + len(regexp_extract_all(t1, '{PII_SQL["phone"]}'))
   + len(regexp_extract_all(t2, '{PII_SQL["ipv4"]}')), 0)::BIGINT AS n_redacted
FROM S2
""",
        # duplicate-cluster size histogram over the same brute-force
        # pair + recursive-CTE component machinery as quality_dedup
        "dup_clusters": r"""
WITH RECURSIVE W AS (
  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '[ \t\n\r\f\x0B]+', ' ', 'g'), ' ') AS ws
  FROM documents
), S AS (
  SELECT doc_id,
    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
         ELSE list_distinct(list_transform(generate_series(1, len(ws)-2),
                            i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
    END AS sh
  FROM W
), P AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM S x JOIN S y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
          / len(list_distinct(x.sh || y.sh))::DOUBLE >= 0.8
), NN AS (SELECT a AS n FROM P UNION SELECT b FROM P
), E2 AS (SELECT a AS s, b AS d FROM P UNION SELECT b, a FROM P
), R(n, l) AS (
  SELECT n, n FROM NN
  UNION
  SELECT e2.d, r.l FROM R r JOIN E2 e2 ON r.n = e2.s
), C AS (SELECT n, min(l) AS label FROM R GROUP BY n
), SZ AS (SELECT label, count(*)::BIGINT AS cluster_size FROM C GROUP BY label)
SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM SZ GROUP BY cluster_size
""",
        # leak-free retrieval: top-5 cosine among STRICTLY-EARLIER vectors
        # (vec_id is the time axis); same float policy as similarity_topk
        "pit_topk": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings
  WHERE vec_id >= 450 AND vec_id < 500
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qe, ce)
           / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))) AS cos
  FROM q JOIN c ON neighbor_id < query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM s
)
SELECT query_id, neighbor_id, rk::BIGINT AS rk, round(cos, 6) AS cos_sim
FROM r WHERE rk <= 5
""",
        # the operator is EXACT by construction (superset prune + exact
        # verify), so the oracle is the naive full group-by it avoids
        "frequent_tokens": f"""
WITH T AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS tok FROM documents
), TOT AS (SELECT count(*)::BIGINT AS total FROM T
), C AS (SELECT tok, count(*)::BIGINT AS cnt FROM T GROUP BY tok)
SELECT tok, cnt FROM C CROSS JOIN TOT
WHERE cnt * 1000000 >= {FREQ_MIN_PPM} * total
""",
    }
