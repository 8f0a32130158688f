from __future__ import annotations

import datetime as dt
from pathlib import Path

import pandas as pd

from pyspark.sql import functions as F

from pyppi_spark.operators import with_session_id
from pyppi_spark.operators.window_extras import (
    bounded_lookahead,
    with_group_normalized,
    with_table_driven_offsets,
)
from pyppi_spark.schema import TRANSCRIPTS
from pyppi_spark.sources import (
    read_fixed_width_transcripts,
    read_manifest,
    write_debug_csv,
)
from pyppi_spark.sources.fixed_width import format_fixed_width_line

FIXTURES = Path(__file__).resolve().parents[1] / "fixtures"


def t(s: float):
    return dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s)


def us(s: float) -> int:
    return int((dt.datetime(2025, 1, 1) + dt.timedelta(seconds=s) - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)


def test_fixed_width_roundtrip_with_end_marker(spark, tmp_path):
    lines = [
        "META this header line is ignored",
        format_fixed_width_line("convA", 0, "user", None, us(0), "hello 東京"),
        format_fixed_width_line("convA", 1, "assistant", "search", us(5), "  leading spaces kept"),
        format_fixed_width_line("convB", 0, "user", None, us(2), ""),
        "END",
        format_fixed_width_line("convC", 0, "user", None, us(9), "after END — dropped"),
    ]
    p = tmp_path / "log.txt"
    p.write_text("\n".join(lines), encoding="utf-8")
    out = read_fixed_width_transcripts(spark, str(p)).orderBy("conv_id", "turn_idx").toPandas()
    assert out["conv_id"].tolist() == ["convA", "convA", "convB"]
    assert out["role"].tolist() == ["user", "assistant", "user"]
    assert out["tool"].where(out["tool"].notna(), None).tolist() == [None, "search", None]
    assert out["text"].tolist() == ["hello 東京", "  leading spaces kept", ""]
    assert out["ts"].tolist() == [t(0), t(5), t(2)]


def test_manifest_scan_skips_comments(spark, tmp_path):
    p = tmp_path / "manifest.txt"
    p.write_text("# comment\nconvA\n\nconvB\n  convC  \n")
    out = read_manifest(spark, str(p)).orderBy("conv_id").toPandas()
    assert out["conv_id"].tolist() == ["convA", "convB", "convC"]


def test_debug_csv_sink_roundtrip(spark, tmp_path, tiny_df):
    path = str(tmp_path / "csv_out")
    write_debug_csv(tiny_df.select("conv_id", "turn_idx", "role"), path)
    back = spark.read.option("header", "true").csv(path)
    assert back.count() == tiny_df.count()


def _mk(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS)


def test_table_driven_offsets(spark):
    df = _mk(
        spark,
        [
            ("c", 0, "user", "a", None, t(0)),
            ("c", 1, "assistant", "b", None, t(1)),
            ("c", 2, "tool", "c", "bash", t(2)),
            ("c", 3, "user", "d", None, t(3)),
        ],
    )
    # users read 1 ahead, assistants 2 ahead, tools 1 back; system unmapped
    out = (
        with_table_driven_offsets(df, {"user": 1, "assistant": 2, "tool": -1})
        .orderBy("turn_idx")
        .toPandas()
    )
    got = out["offset_value"].where(out["offset_value"].notna(), None).tolist()
    assert got == ["assistant", "user", "assistant", None]


def test_bounded_lookahead_stops_at_session_boundary(spark):
    df = _mk(
        spark,
        [
            ("c", 0, "user", "a", None, t(0)),
            ("c", 1, "user", "b", None, t(1)),
            ("c", 2, "tool", "c", "sql", t(2)),
            # session break (gap > 1800):
            ("c", 3, "user", "d", None, t(4000)),
            ("c", 4, "tool", "e", "bash", t(4001)),
        ],
    )
    s = with_session_id(df)
    out = bounded_lookahead(s, "tool", k=3).orderBy("turn_idx").toPandas()
    vals = out["tool_next3_in_session"].where(
        out["tool_next3_in_session"].notna(), None
    ).tolist()
    # row1 sees sql (same session); row2 sees nothing ahead in session 0;
    # row3 sees bash (session 1), row4 nothing
    assert vals == ["sql", "sql", None, "bash", None]


def test_group_normalized_ratio(spark):
    from pyppi_spark.operators import with_gaps

    df = _mk(
        spark,
        [
            ("c", 0, "user", "a", None, t(0)),
            ("c", 1, "user", "b", None, t(10)),
            ("c", 2, "user", "c", None, t(50)),
        ],
    )
    out = (
        with_group_normalized(with_gaps(df), "gap_prev_s")
        .orderBy("turn_idx")
        .toPandas()
    )
    got = out["gap_prev_s_norm"].tolist()
    assert pd.isna(got[0]) and abs(got[1] - 0.25) < 1e-12 and got[2] == 1.0


def test_jsonl_source_quarantine_and_unicode(spark):
    """JSONL ingest: explicit schema, malformed lines quarantined (never
    silently dropped), unicode round-trips, missing fields parse as NULL
    rather than corrupting the row."""
    from pyppi_spark.sources.jsonl import read_jsonl_documents, split_corrupt

    df = read_jsonl_documents(
        spark, str(FIXTURES / "documents.jsonl"),
        schema="doc_id bigint, text string, lang string, score double",
    )
    df.persist()
    valid, bad = split_corrupt(df)
    assert df.count() == 13            # every input line is accounted for
    assert valid.count() == 11
    bad_lines = [r[0] for r in bad.collect()]
    assert len(bad_lines) == 2 and "not json at all" in bad_lines[1]
    rows = {r.doc_id: r for r in valid.collect()}
    assert rows[1].text == "naïve café résumé — unicode survives the pipeline"
    assert rows[100].text is None      # missing field -> NULL, not corrupt
    assert rows[5].text is None        # explicit null survives
    df.unpersist()
