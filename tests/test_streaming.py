"""Streaming sessionization cross-checked against the batch cumsum
operator (two-definition agreement, SURVEY.md §5.3 item 2)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from pyppi_spark.operators import with_session_id
from pyppi_spark.schema import TRANSCRIPTS
from pyppi_spark.streaming import streaming_session_aggregates


def test_streaming_sessions_match_batch(spark, tiny_pdf, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(src)
    agg = streaming_session_aggregates(stream, gap_s=1800.0, watermark="1 day")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.table("sess_stream")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("session_len").alias("n_turns"))
        .orderBy("conv_id")
        .toPandas()
    )
    batch = with_session_id(spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS), gap_s=1800.0)
    want = (
        batch.groupBy("conv_id")
        .agg((F.max("session_id") + 1).alias("n_sessions"), F.count(F.lit(1)).alias("n_turns"))
        .orderBy("conv_id")
        .toPandas()
    )
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["n_sessions"].tolist() == want["n_sessions"].tolist()
    assert got["n_turns"].tolist() == want["n_turns"].tolist()


def test_streaming_running_state_matches_batch_final(spark, tiny_pdf, tmp_path):
    """applyInPandasWithState custom stateful operator: the final snapshot
    per conversation equals the batch cumulative state at the last turn
    (exact int64-µs gap accumulation in both paths)."""
    from pyppi_spark.streaming.sessions import streaming_running_state

    src = str(tmp_path / "src_state")
    spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPTS).parquet(src)
    out = streaming_running_state(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emitted snapshot per conv (one batch here → exactly one row each)
    got = (
        spark.table("running_state")
        .orderBy("conv_id")
        .toPandas()
        .groupby("conv_id")
        .last()
        .reset_index()
    )

    pdf = tiny_pdf.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    rows = []
    for cid, g in pdf.groupby("conv_id"):
        ts_us = (g["ts"].astype("int64") // 1000).tolist()
        gaps = [b - a for a, b in zip(ts_us, ts_us[1:])]
        rows.append(
            {
                "conv_id": cid,
                "n_turns": len(g),
                "gap_mean_s": (sum(gaps) / 1e6 / len(gaps)) if gaps else None,
                "gap_max_s": (max(gaps) / 1e6) if gaps else None,
                "last_ts_us": ts_us[-1],
            }
        )
    import pandas as pd

    want = pd.DataFrame(rows).sort_values("conv_id").reset_index(drop=True)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["n_turns"].tolist() == want["n_turns"].tolist()
    assert got["last_ts_us"].tolist() == want["last_ts_us"].tolist()
    for c in ["gap_mean_s", "gap_max_s"]:
        g = got[c].fillna(-1).tolist()
        w = want[c].fillna(-1).tolist()
        assert g == w, c  # exact: int64-µs accumulation both sides


def test_running_state_batch_equals_stateful_final(spark, tiny_pdf, tmp_path):
    """The driver-gated batch form (cumulative windows, query
    'running_state') agrees bitwise with the stateful fold's final
    snapshot: last batch row per conversation == applyInPandasWithState
    output (exact int64-µs both sides)."""
    from pyppi_spark.streaming.sessions import running_state_batch, streaming_running_state

    src = str(tmp_path / "src_state_batch")
    spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPTS).parquet(src)
    q = (
        streaming_running_state(stream)
        .writeStream.format("memory")
        .queryName("running_state_b")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("running_state_b").orderBy("conv_id").toPandas()
        .groupby("conv_id").last().reset_index()
    )

    batch = running_state_batch(
        spark.createDataFrame(tiny_pdf, schema=TRANSCRIPTS)
    ).toPandas()
    final = (
        batch.sort_values(["conv_id", "n_turns"], kind="mergesort")
        .groupby("conv_id").last().reset_index()
    )
    assert got["conv_id"].tolist() == final["conv_id"].tolist()
    assert got["n_turns"].tolist() == final["n_turns"].tolist()
    assert got["last_ts_us"].tolist() == final["last_ts_us"].tolist()
    assert got["last_role"].tolist() == final["last_role"].tolist()
    for c in ["gap_mean_s", "gap_max_s"]:
        assert got[c].fillna(-1).tolist() == final[c].fillna(-1).tolist(), c


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark over the batch operator's composite
    key: the streamed survivor multiset equals batch exact_dedup on the
    same data (single in-horizon batch; keep-first vs keep-min differ only
    on id choice, so compare the surviving TEXT multiset)."""
    import datetime as dt
    import pandas as pd
    from pyppi_spark.operators.dedup import exact_dedup
    from pyppi_spark.streaming.sessions import streaming_exact_dedup

    t0 = dt.datetime(2026, 1, 1)
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": ["same doc", "Same  DOC", "other", "third text", "same doc", "other"],
            "ts": [t0 + dt.timedelta(minutes=i) for i in range(6)],
        }
    )
    src = str(tmp_path / "src_dedup")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.text.lower().replace("  ", " ") for r in spark.table("stream_dedup").collect()
    )
    want = sorted(
        r.text.lower().replace("  ", " ")
        for r in exact_dedup(spark.createDataFrame(pdf)).collect()
    )
    assert got == want


def test_jsonl_stream_equals_batch(spark, tmp_path):
    """The streaming JSONL reader applies the identical schema/quarantine
    contract as the batch reader: same valid rows, same quarantined line
    count, over the same landing directory."""
    import shutil

    from pyppi_spark.sources.jsonl import (
        read_jsonl_documents,
        read_jsonl_stream,
        split_corrupt,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(Path(__file__).resolve().parents[1] / "fixtures" / "documents.jsonl", landing / "part0.jsonl")
    schema = "doc_id bigint, text string, lang string, score double"

    batch = read_jsonl_documents(spark, str(landing), schema=schema)
    batch.persist()
    bvalid, bbad = split_corrupt(batch)

    stream = read_jsonl_stream(spark, str(landing), schema=schema)
    q = (
        stream.writeStream.format("memory")
        .queryName("jsonl_stream_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("jsonl_stream_sink")
    got.persist()
    svalid, sbad = split_corrupt(got)
    key = lambda df: df.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert key(bvalid).equals(key(svalid))
    assert bbad.count() == sbad.count() == 2
    batch.unpersist(); got.unpersist()
