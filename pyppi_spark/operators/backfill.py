"""Forward-fill / back-fill over ordered conversations — the analog of the
reference's "last preceding valid row" anchor
(``/root/reference/pyPPI/ASA.py:166-176``: the last atom before a missing
run anchors recomputation).

Pure window formulation: ``last(col, ignorenulls=True)`` over an unbounded
preceding frame (and the ``first`` mirror for bfill). No Python, one shuffle
per (key, ordering), shared across multiple filled columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from .sessionize import CUMULATIVE, over_sql


def ffill(
    df: DataFrame,
    cols: Sequence[str],
    conv_col="conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
    suffix: str = "_ffill",
) -> DataFrame:
    cum = over_sql(conv_col, ts_col, idx_col, CUMULATIVE)
    return df.withColumns({f"{c}{suffix}": F.expr(f"last(`{c}`, true) {cum}") for c in cols})


def bfill(
    df: DataFrame,
    cols: Sequence[str],
    conv_col="conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
    suffix: str = "_bfill",
) -> DataFrame:
    rest = over_sql(conv_col, ts_col, idx_col, " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING")
    return df.withColumns({f"{c}{suffix}": F.expr(f"first(`{c}`, true) {rest}") for c in cols})
