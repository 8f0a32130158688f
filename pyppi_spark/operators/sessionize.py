"""Gap-based sessionization — the transcript analog of the reference's
contiguous residue runs (``/root/reference/pyPPI/resReduce.py:97-106``:
a new run starts whenever the run key changes; here a new session starts
whenever the inter-turn gap exceeds a threshold).

Formulation: window cumulative sum over change flags — one shuffle on the
entity key, no Python. ``session_window`` (Spark ≥3.2) is used as an
independent cross-check in tests only; the cumsum form is the engine's
because it yields a stable per-conversation ordinal usable as a join key.

Semantics (pinned; the reference's squared-vs-unsquared cutoff confusion at
``/root/reference/pyPPI/pdbReader.py:15`` vs ``bin/setupPpiDb.py:37`` is the
cautionary tale): a turn starts a NEW session iff ``ts - prev_ts > gap_s``
(strictly greater — a gap of exactly ``gap_s`` stays in-session). Units are
seconds on both sides. ``session_id`` is 0-based per conversation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.time import epoch_seconds_sql

DEFAULT_GAP_S = 1800.0


def _keys(conv_col) -> list:
    """Accept a single key or a composite (e.g. ["_bkt", "conv_id"] for the
    balanced-bucket layout — the bucket id is a pure function of conv_id, so
    prepending it never changes semantics, only physical distribution)."""
    return [conv_col] if isinstance(conv_col, str) else list(conv_col)


CUMULATIVE = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def over_sql(conv_col, ts_col: str = "ts", idx_col: str = "turn_idx", frame: str = "") -> str:
    """SQL ``OVER (...)`` clause of the per-conversation (ts, idx) total
    order, with an optional frame (e.g. ``CUMULATIVE``). Window columns are
    built as one SQL expression each: 3 Py4J round trips, where a Column
    chain (``F.lag(...).over(Window...)``) costs ~10 per operator."""
    keys = ", ".join(f"`{k}`" for k in _keys(conv_col))
    return f"OVER (PARTITION BY {keys} ORDER BY `{ts_col}`, `{idx_col}`{frame})"


def with_session_id(
    df: DataFrame,
    gap_s: float = DEFAULT_GAP_S,
    conv_col="conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
    out_col: str = "session_id",
) -> DataFrame:
    """Add 0-based ``session_id`` and 1-based ``turn_in_session``.

    Everything shares ONE window partitioning and ordering (= one shuffle,
    one sort): ``turn_in_session`` is derived as ``row_number - anchor + 1``
    where ``anchor`` is the row_number of the session's first row
    (``last(when(flag,rn)) ignoreNulls`` over the cumulative frame), instead
    of a second window keyed on (conv, session_id) that would force another
    sort. Columns are added two at a time (flag and row number, then the
    two cumulative windows): three plan analyses instead of five."""
    over = over_sql(conv_col, ts_col, idx_col)
    cum = over_sql(conv_col, ts_col, idx_col, CUMULATIVE)
    t = epoch_seconds_sql(ts_col)
    flag = (
        f"CASE WHEN lag(`{ts_col}`) {over} IS NULL"
        f" OR {t} - lag({t}) {over} > CAST({float(gap_s)!r} AS DOUBLE) THEN 1 ELSE 0 END"
    )
    return (
        df.withColumns({"_rn": F.expr(f"row_number() {over}"), "_flag": F.expr(flag)})
        .withColumns(
            {
                out_col: F.expr(f"CAST(sum(_flag) {cum} - 1 AS BIGINT)"),
                "turn_in_session": F.expr(
                    f"CAST(_rn - last(CASE WHEN _flag = 1 THEN _rn END, true) {cum} + 1 AS BIGINT)"
                ),
            }
        )
        .drop("_rn", "_flag")
    )


def session_bounds(
    df_with_sessions: DataFrame,
    conv_col="conv_id",
    ts_col: str = "ts",
    session_col: str = "session_id",
) -> DataFrame:
    """Per-session summary rows (start/end/length) — partial-agg friendly."""
    return df_with_sessions.groupBy(*_keys(conv_col), session_col).agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("session_len"),
    )
