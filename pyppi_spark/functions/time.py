"""Time-axis math helpers.

Spark 4 forbids ``cast(timestamp_ntz as double)``; route through
``unix_micros`` after normalizing to TIMESTAMP (session tz is pinned to UTC
by the session factory, so NTZ→TZ is the identity wall-clock mapping and
matches DuckDB's ``epoch_us`` on naive timestamps exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def epoch_seconds(col: str | Column) -> Column:
    """Microsecond-exact epoch seconds as double: unix_micros(ts)/1e6 —
    the same integer-division-by-1e6 double DuckDB's epoch_us/1e6 yields."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp")) / F.lit(1e6)


def epoch_seconds_sql(col: str) -> str:
    """``epoch_seconds`` as SQL text over the column named ``col``."""
    return f"unix_micros(CAST(`{col}` AS TIMESTAMP)) / 1e6"


def epoch_micros(col: str | Column) -> Column:
    """Epoch microseconds as int64 — the exact-accumulation currency: sums
    of int64 gaps are associativity-free, so derived means are bitwise
    identical across engines and parallelism levels (divide by 1e6 once,
    at the end)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def calendar_features(col: str | Column) -> dict[str, Column]:
    """Calendar decomposition for time-of-day/day-of-week feature buckets.
    ``weekday`` is ISO-monday-based (0=Mon … 6=Sun — Spark ``weekday`` ==
    DuckDB ``isodow - 1``; Spark's 1=Sunday ``dayofweek`` is avoided
    because it matches neither ISO nor DuckDB's 0=Sunday ``dow``)."""
    c = F.col(col) if isinstance(col, str) else col
    t = c.cast("timestamp")
    return {
        "weekday": F.weekday(t).cast("long"),
        "hour_of_day": F.hour(t).cast("long"),
        "is_weekend": F.weekday(t) >= 5,
    }
