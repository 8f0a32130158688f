"""Physical-plan regression guards — the scale properties the engine claims
must be visible in the executed plan, not just asserted in docs:

1. windows over the balanced-bucket layout are Exchange-free (the storage
   HashPartitioning satisfies the window distribution by the subset rule),
2. parquet scans push filters and prune columns,
3. the nearest as-of computes both direction windows over ONE exchange,
4. small dimension joins broadcast (no shuffle join).
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from pyppi_spark.io import register_bucketed, write_bucketed
from pyppi_spark.plans import turn_features


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_turn_features_exchange_free(spark, tiny_df, tmp_path):
    loc = str(tmp_path / "bucketed")
    write_bucketed(tiny_df, "t_plans_bucketed", loc, n_buckets=4)
    bt = register_bucketed(spark, "t_plans_bucketed", loc, n_buckets=4)
    plan = _plan(turn_features(bt))
    assert "Exchange" not in plan, plan
    # and it computes the same rows as the unbucketed path
    got = turn_features(bt).drop("_bkt").count()
    want = turn_features(tiny_df).count()
    assert got == want


def test_parquet_scan_pushdown_and_pruning(spark, tiny_df, tmp_path):
    src = str(tmp_path / "events_src")
    tiny_df.write.parquet(src)
    df = (
        spark.read.parquet(src)
        .where(F.col("role") == "assistant")
        .select("conv_id", "turn_idx")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,assistant)]" in plan, plan
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "text" not in m.group(1) and "ts" not in m.group(1), plan


def test_nearest_asof_shares_one_exchange(spark, tiny_df, probes_df):
    from pyppi_spark.operators import asof_join

    df = asof_join(
        probes_df, tiny_df, payload=["turn_idx"], direction="nearest"
    )
    plan = _plan(df)
    # both direction windows run over the single union exchange
    assert plan.count("Exchange") == 1, plan
    assert len(re.findall(r"\bWindow\b", plan)) == 2, plan


def test_small_dim_join_broadcasts(spark, tiny_df):
    dim = spark.createDataFrame(
        [("user", 1.0), ("assistant", 2.0)], "role string, w double"
    )
    plan = _plan(tiny_df.join(dim, "role"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_running_state_batch_single_exchange(spark, tiny_df):
    """All cumulative windows of the running-state batch form must share
    ONE partitioning (one Exchange feeds row_number + sums + max)."""
    from pyppi_spark.streaming import running_state_batch

    plan = _plan(running_state_batch(tiny_df))
    assert plan.count("Exchange") == 1, plan


def test_dataset_split_no_exchange(spark, tiny_df):
    """Split assignment is a pure projection — zero shuffle."""
    from pyppi_spark.operators import dataset_split

    df = dataset_split(
        tiny_df, {"train": 0.8, "val": 0.2}, id_col="conv_id"
    )
    assert "Exchange" not in _plan(df), _plan(df)


def test_bucketed_conv_features_one_aggregation_no_shuffle(spark, tiny_df, tmp_path):
    """The per-conversation aggregate sits on the storage partitioning: the
    distinct counts plan no Expand (countDistinct's would drop
    HashPartitioning(_bkt) and force an exchange before the aggregate)."""
    from pyppi_spark.plans import conv_features

    loc = str(tmp_path / "bucketed_conv")
    write_bucketed(tiny_df, "t_plans_bucketed_conv", loc, n_buckets=4)
    bt = register_bucketed(spark, "t_plans_bucketed_conv", loc, n_buckets=4)
    out = conv_features(bt)
    plan = _plan(out)
    assert "Expand" not in plan, plan
    assert "Exchange" not in plan, plan
    assert out.count() == conv_features(tiny_df).count()


def test_balanced_assignment_is_greedy_bin_pack(spark, tiny_df, tiny_pdf):
    """conv→bucket mapping equals a plain-Python largest-first greedy pack
    (ties by conv_id) of the conversation sizes."""
    import heapq

    from pyppi_spark.io import balanced_assignment

    sizes = tiny_pdf.groupby("conv_id").size()
    heap = [(0, b) for b in range(4)]
    want = {}
    for cid, n in sorted(sizes.items(), key=lambda x: (-x[1], x[0])):
        load, b = heapq.heappop(heap)
        want[cid] = b
        heapq.heappush(heap, (load + n, b))
    mapping = balanced_assignment(tiny_df, 4, heavy_hitters=None)
    assert mapping.dtypes == [("conv_id", "string"), ("_bkt", "int")]
    assert {r.conv_id: r._bkt for r in mapping.collect()} == want
