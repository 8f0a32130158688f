"""End-to-end golden tests: Spark plans vs the single-node pandas oracle
(np.allclose for floats, exact for ints/strings, byte-equality for text) —
SURVEY.md §5.3 item 2."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyppi_spark.oracle import oracle_conv_features, oracle_turn_features
from pyppi_spark.plans import conv_features, turn_features

RTOL, ATOL = 1e-9, 1e-12


def _aligned(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]):
    got = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(keys, kind="mergesort").reset_index(drop=True)
    assert len(got) == len(want)
    return got, want


def _assert_col(got: pd.Series, want: pd.Series, name: str):
    if got.dtype.kind == "f" or want.dtype.kind == "f":
        g, w = got.astype("float64").to_numpy(), want.astype("float64").to_numpy()
        assert np.allclose(g, w, rtol=RTOL, atol=ATOL, equal_nan=True), name
    else:
        g = got.where(got.notna(), None).tolist()
        w = want.where(want.notna(), None).tolist()
        assert g == w, f"{name}: first diff at {next(i for i in range(len(g)) if g[i] != w[i])}"


def test_turn_features_golden(spark, tiny_df, tiny_pdf):
    got = turn_features(tiny_df).toPandas()
    want = oracle_turn_features(tiny_pdf)
    got, want = _aligned(got, want, ["conv_id", "turn_idx"])
    for c in ["session_id", "turn_in_session", "prev_role", "next_role", "tool_ffill", "role", "tool"]:
        _assert_col(got[c], want[c], c)
    for c in ["gap_prev_s", "gap_next_s"]:
        _assert_col(got[c], want[c], c)
    # per-turn text byte-equality under stable (ts, turn_idx) order
    gb = [x.encode("utf-8") if x is not None else None for x in got["text"]]
    wb = [x.encode("utf-8") if x is not None else None for x in want["text"]]
    assert gb == wb


def test_conv_features_golden(spark, tiny_df, tiny_pdf):
    got = conv_features(tiny_df).toPandas()
    want = oracle_conv_features(tiny_pdf)
    got, want = _aligned(got, want, ["conv_id"])
    int_cols = (
        ["n_turns", "n_sessions", "session_len_max", "n_distinct_tools", "n_tool_transitions", "n_distinct_tool_pairs"]
        + [f"n_{r}" for r in ["user", "assistant", "system", "tool"]]
        + [c for c in want.columns if c.startswith("t_")]
    )
    for c in int_cols:
        _assert_col(got[c].astype("int64"), want[c].astype("int64"), c)
    for c in ["latency_mean_s", "latency_max_s", "latency_p95_s", "session_len_mean"]:
        _assert_col(got[c], want[c], c)
    for c in ["first_ts", "last_ts"]:
        assert got[c].tolist() == want[c].tolist(), c


def test_determinism_across_parallelism(spark, tiny_df):
    """Same input, different partitioning ⇒ identical features (SURVEY.md
    §5.3 item 4, the sandbox stand-in for N vs 4N executors)."""
    a = conv_features(tiny_df.repartition(2)).toPandas().sort_values("conv_id").reset_index(drop=True)
    b = conv_features(tiny_df.repartition(17)).toPandas().sort_values("conv_id").reset_index(drop=True)
    float_cols = [c for c in a.columns if a[c].dtype.kind == "f"]
    for c in a.columns:
        if c in float_cols:
            assert np.allclose(
                a[c].astype("float64"), b[c].astype("float64"),
                rtol=1e-12, atol=1e-12, equal_nan=True,
            ), c
        else:
            assert a[c].tolist() == b[c].tolist(), c


def test_distributed_datagen_matches_driver(spark, tiny_pdf):
    from pyppi_spark.datagen import gen_transcripts_df

    dist = (
        gen_transcripts_df(spark, 40, seed=42)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    drv = tiny_pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    assert len(dist) == len(drv)
    for c in ["conv_id", "turn_idx", "role", "text", "tool"]:
        assert dist[c].where(dist[c].notna(), None).tolist() == drv[c].where(drv[c].notna(), None).tolist(), c
    assert (dist["ts"].astype("int64") == drv["ts"].astype("int64")).all()


def test_conv_features_percentile_modes(spark, tiny_df):
    """The approx-percentile production variant keeps the identical schema,
    and its p95 is an ACTUAL group element within the exact [p90, max]
    bracket (exact `percentile` interpolates between ranks, the KLL sketch
    returns a real value at rank-error ≤ 1e-4 — on small groups that means
    the true rank-⌈0.95n⌉ element)."""
    from pyppi_spark.plans import conv_features, turn_features

    exact = conv_features(tiny_df).toPandas()
    approx = conv_features(tiny_df, percentile_mode="approx").toPandas()
    assert list(exact.columns) == list(approx.columns)
    e = exact.sort_values("conv_id").reset_index(drop=True)
    a = approx.sort_values("conv_id").reset_index(drop=True)
    assert (e.conv_id == a.conv_id).all()
    # every other feature is identical — only latency_p95_s may differ
    for c in exact.columns:
        if c in ("latency_p95_s", "first_ts", "last_ts"):
            continue
        assert e[c].equals(a[c]), f"column {c} diverged between modes"

    gaps = (
        turn_features(tiny_df)
        .toPandas()
        .groupby("conv_id")["gap_prev_s"]
        .apply(lambda s: sorted(s.dropna()))
    )
    import numpy as np

    for cid, av, p95 in zip(a.conv_id, a.latency_p95_s, e.latency_p95_s):
        g = gaps.get(cid, [])
        if not g:
            assert pd.isna(av)
            continue
        assert av in g, f"{cid}: approx p95 {av} is not a group element"
        lo = np.percentile(g, 90) if len(g) > 1 else g[0]
        assert lo <= av <= g[-1], f"{cid}: approx p95 {av} outside [p90, max]"


def test_distinct_tool_counts_edge_cases(spark):
    """n_distinct_tools / n_distinct_tool_pairs against the oracle where
    the distinct counts are easiest to get wrong: a conversation whose
    tools are all null (0 — nulls are never counted), a one-turn
    conversation, and repeated tool pairs (a→b twice counts once). Both
    columns stay bigint."""
    from pyppi_spark.schema import TRANSCRIPTS

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    rows = []

    def conv(cid, tools):
        for i, tool in enumerate(tools):
            role = "tool" if tool is not None or i % 2 else "user"
            rows.append((cid, i, role, f"t{i}", tool, t0 + pd.Timedelta(seconds=10 * i)))

    conv("all_null", [None, None, None, None])
    conv("one_turn", ["search"])
    conv("repeats", ["a", "b", None, "a", "b", "b", "a", None, "b"])
    pdf = pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPTS.fields])
    out = conv_features(spark.createDataFrame(pdf, schema=TRANSCRIPTS))
    types = dict(out.dtypes)
    assert types["n_distinct_tools"] == types["n_distinct_tool_pairs"] == "bigint"
    got, want = _aligned(out.toPandas(), oracle_conv_features(pdf), ["conv_id"])
    for c in ["n_distinct_tools", "n_distinct_tool_pairs", "n_tool_transitions"]:
        _assert_col(got[c].astype("int64"), want[c].astype("int64"), c)
    by_conv = got.set_index("conv_id")
    assert by_conv.loc["all_null", ["n_distinct_tools", "n_distinct_tool_pairs"]].tolist() == [0, 0]
    assert by_conv.loc["one_turn", ["n_distinct_tools", "n_distinct_tool_pairs"]].tolist() == [1, 0]
    # non-null sequence a b a b b a b: pairs {a→b, b→a, b→b}
    assert by_conv.loc["repeats", ["n_distinct_tools", "n_distinct_tool_pairs"]].tolist() == [2, 3]
