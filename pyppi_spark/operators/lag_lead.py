"""Offset (lag/lead) turn features — the analog of the reference's
index-arithmetic lookahead (``getNextAtoms``,
``/root/reference/pyPPI/pdbReader.py:160-170``) and its table-driven signed
offsets (``/root/reference/pyPPI/donorAcceptor.py:71-89``: forward offsets
for donor hydrogens, negative offsets for acceptor neighbors).

All offsets ride one window specification so Catalyst plans a single
sort+exchange per (partition key, ordering) pair regardless of how many
offset features are requested.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from ..functions.time import epoch_seconds_sql
from .sessionize import over_sql


def with_lag_lead(
    df: DataFrame,
    cols: Sequence[str],
    offsets: Sequence[int] = (-1, 1),
    conv_col="conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Add ``prev_<col>`` / ``next_<col>`` (or ``<col>_m<k>``/``_p<k>`` for
    |offset| > 1). Negative offset = lag (past), positive = lead (future)."""
    over = over_sql(conv_col, ts_col, idx_col)
    new = {}
    for c in cols:
        for k in offsets:
            if k < 0:
                name = f"prev_{c}" if k == -1 else f"{c}_m{-k}"
                new[name] = F.expr(f"lag(`{c}`, {-k}) {over}")
            elif k > 0:
                name = f"next_{c}" if k == 1 else f"{c}_p{k}"
                new[name] = F.expr(f"lead(`{c}`, {k}) {over}")
    return df.withColumns(new)


def with_gaps(
    df: DataFrame,
    conv_col="conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
    prev_col: str = "gap_prev_s",
    next_col: str = "gap_next_s",
) -> DataFrame:
    """Inter-turn latency in seconds to the previous and next turn (null at
    conversation edges) — the time-axis analog of the reference's
    nearest-neighbor distances (``/root/reference/pyPPI/kdtree.py:38-48``)."""
    over = over_sql(conv_col, ts_col, idx_col)
    t = epoch_seconds_sql(ts_col)
    return df.withColumns(
        {prev_col: F.expr(f"{t} - lag({t}) {over}"), next_col: F.expr(f"lead({t}) {over} - {t}")}
    )
