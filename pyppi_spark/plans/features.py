"""Flagship feature-extraction plans.

``turn_features``: per-turn rows (FIXTURES.md §5) — session id, lag/lead,
gaps, tool forward-fill, text passthrough. The analog of the reference's
per-atom tables (``perAtomASA``/``interfacePeriphrial``,
``/root/reference/pyPPI/sqls/createDB.sql:25-41,176-186``).

``conv_features``: per-conversation feature vector (FIXTURES.md §4) — turn
counts by role, session stats, directed role-transition bigram counts (the
analog of the reference's *directed* H-bond donor→acceptor pair counting,
``/root/reference/pyPPI/hbonds.py:174-181``), inter-turn latency aggregates
(the analog of its distance/energy aggregates,
``/root/reference/pyPPI/surfaceComplementarity/VDW.py:183-199``).

Plan shape: ONE shuffle on ``conv_id`` feeds every window (same partition
key + ordering ⇒ Catalyst reuses the exchange/sort) — none over a
``write_bucketed`` table, whose ``HashPartitioning(_bkt)`` already satisfies
the ``(_bkt, conv_id)`` windows — then per-conv features are ONE
aggregation on that same partitioning: no ``Expand`` (distinct counts are
``size(collect_set(...))``, not ``countDistinct``, whose Expand would drop
the partitioning and force a second shuffle) and no exchange. All
expressions are JVM-side; zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.sessionize import DEFAULT_GAP_S, over_sql, with_session_id
from ..operators.lag_lead import with_lag_lead, with_gaps
from ..operators.backfill import ffill

__all__ = ["turn_features", "conv_features", "conv_features_from_turns", "ROLE_SET"]

ROLE_SET = ["user", "assistant", "system", "tool"]

BUCKET_COL = "_bkt"


def _conv_key(df: DataFrame) -> list[str] | str:
    """Layout-aware partition key: when the input carries the balanced-bucket
    column (pyppi_spark.io), windows partition on (_bkt, conv_id) so the
    storage HashPartitioning(_bkt) satisfies the distribution — zero
    shuffle, balanced tasks. Semantics are identical (_bkt is a function of
    conv_id)."""
    return [BUCKET_COL, "conv_id"] if BUCKET_COL in df.columns else "conv_id"


def turn_features(
    transcripts: DataFrame,
    gap_s: float = DEFAULT_GAP_S,
) -> DataFrame:
    key = _conv_key(transcripts)
    df = with_session_id(transcripts, gap_s=gap_s, conv_col=key)
    df = with_lag_lead(df, ["role"], offsets=(-1, 1), conv_col=key)
    df = with_gaps(df, conv_col=key)
    df = ffill(df, ["tool"], conv_col=key)
    return df.select(
        *([BUCKET_COL] if isinstance(key, list) else []),
        "conv_id",
        "turn_idx",
        "ts",
        "session_id",
        "prev_role",
        "next_role",
        "gap_prev_s",
        "gap_next_s",
        "tool_ffill",
        "turn_in_session",
        "text",
        "role",
        "tool",
    )


def conv_features(
    transcripts: DataFrame,
    gap_s: float = DEFAULT_GAP_S,
    percentile_mode: str = "exact",
) -> DataFrame:
    return conv_features_from_turns(
        turn_features(transcripts, gap_s=gap_s), percentile_mode=percentile_mode
    )


def conv_features_from_turns(tf: DataFrame, percentile_mode: str = "exact") -> DataFrame:
    """Aggregate a ``turn_features`` output into per-conversation vectors.

    Pipelines that materialize (or cache) the per-turn table should call
    this directly — it reuses the already-computed windows instead of
    re-deriving them from raw transcripts (the reference's stage-reuse
    pattern: downstream stages read the materialized per-atom tables,
    ``/root/reference/bin/setupPpiDb.py:241-244``).

    ``percentile_mode``: ``"exact"`` (default — required for oracle parity;
    buffers each group's gap values in the aggregation state) or
    ``"approx"`` (``percentile_approx``, the KLL-family sketch: CONSTANT
    state per group with guaranteed rank error ≤ 1/accuracy = 10⁻⁴ of the
    group size, i.e. the value returned sits within ±0.01% of the true
    p95 RANK — the production choice at 100 TB where a single conversation
    can hold millions of turns and exact percentile state is unbounded).
    Everything else in the vector is identical; A/B wall time is reported
    in the bench (``feature_extraction_approx``)."""
    if percentile_mode not in ("exact", "approx"):
        raise ValueError(f"unknown percentile_mode {percentile_mode!r}")
    p95 = (
        "percentile(gap_prev_s, 0.95)"
        if percentile_mode == "exact"
        else "percentile_approx(gap_prev_s, 0.95, 10000)"
    )
    bucketed = BUCKET_COL in tf.columns
    keys = [BUCKET_COL, "conv_id"] if bucketed else ["conv_id"]

    # Every column below is one SQL expression: 3 Py4J round trips each,
    # where a Column-builder chain costs ~10 per operator (CLAUDE.md).
    #
    # directed tool→tool transitions between consecutive non-null tool
    # turns (lag-ignore-nulls via last() over the preceding frame) — the
    # directed-pair counting of the reference's H-bond donor→acceptor set
    # (/root/reference/pyPPI/hbonds.py:174-181) on the tool axis
    before = over_sql(keys, frame=" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    tf = tf.withColumn("_prev_tool_nn", F.expr(f"last(tool, true) {before}"))
    aggs = [
        "count(1) AS n_turns",
        "max(session_id) + 1 AS n_sessions",
        *(f"count_if(role = '{r}') AS n_{r}" for r in ROLE_SET),
        # directed role→role bigrams, fixed 4×4 flattening
        *(
            f"count_if(prev_role = '{a}' AND role = '{b}') AS t_{a}__{b}"
            for a in ROLE_SET
            for b in ROLE_SET
        ),
        "avg(gap_prev_s) AS latency_mean_s",
        "max(gap_prev_s) AS latency_max_s",
        f"{p95} AS latency_p95_s",
        "min(ts) AS first_ts",
        "max(ts) AS last_ts",
        "max(turn_in_session) AS session_len_max",
        # distinct counts as size(collect_set): nulls skipped exactly like
        # countDistinct, but no Expand — the aggregate stays on the input
        # partitioning (zero shuffle over a bucketed table)
        "CAST(size(collect_set(tool)) AS BIGINT) AS n_distinct_tools",
        "count_if(tool IS NOT NULL AND _prev_tool_nn IS NOT NULL) AS n_tool_transitions",
        "CAST(size(collect_set(CASE WHEN tool IS NOT NULL AND _prev_tool_nn IS NOT NULL"
        " THEN concat_ws('→', _prev_tool_nn, tool) END)) AS BIGINT) AS n_distinct_tool_pairs",
    ]
    out = tf.groupBy(*keys).agg(*map(F.expr, aggs)).withColumn(
        # mean session length over a conversation's sessions is exactly
        # total turns / session count — no second aggregation subtree needed
        "session_len_mean",
        F.expr("CAST(n_turns AS DOUBLE) / CAST(n_sessions AS DOUBLE)"),
    )
    return out.drop(BUCKET_COL) if bucketed else out
