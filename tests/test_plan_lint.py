"""Repo-wide physical-plan invariants over EVERY driver query.

The scale discipline, enforced rather than promised:

- no row-at-a-time Python (`BatchEvalPython`) anywhere — Python only in
  Arrow-vectorized nodes,
- `BroadcastNestedLoopJoin` only where the broadcast side is provably
  tiny (explicit allowlist),
- the zero-shuffle query class stays Exchange-free (a regression that
  adds a shuffle to a scan→project query fails here, not in a bench
  eyeball).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.append(str(Path(__file__).resolve().parents[1] / "tools"))

BNLJ_ALLOWED = {
    # brute-force top-k baseline: the 5-row query side broadcasts; the
    # "join" is effectively a 5x map over candidates
    "similarity_topk",
    # 50-row broadcast probe set; causality predicate is a cheap
    # comparison in the BNLJ condition, cosine stays in the projection
    "pit_topk",
    # 1-row corpus-size scalar cross join for the IDF denominator
    "top_tokens",
    # 1-row corpus-total-token-count scalar cross join (quality_lm)
    "unigram_surprisal",
    "perplexity_buckets",
    "bigram_surprisal",
    "quality_mix",
    # two 1-row LM-total scalar cross joins (dsir_scores)
    "dsir_select",
    # 1-row corpus-total scalar cross join (heavy_hitters verify filter)
    "frequent_tokens",
}

ZERO_SHUFFLE = {
    "text_stats", "pii_stats", "pii_redact", "dataset_split", "chunk_docs",
    "token_stats", "jsonl_scan",
}

KERNEL_ZERO_SHUFFLE = {"media_features", "frame_sample", "winnow", "pipe_transform"}


def test_plan_invariants_all_queries(spark):
    from plan_lint import audit

    rows = audit(spark=spark)
    assert len(rows) >= 56
    errs = {n for n, r in rows.items() if r["err"]}
    assert not errs, f"queries failed to build a plan: {errs}"
    py_row = {n for n, r in rows.items() if r["batch_eval_python"] > 0}
    assert not py_row, f"row-at-a-time Python in: {py_row}"
    bnlj = {n for n, r in rows.items() if r["bnl_joins"] > 0}
    assert bnlj <= BNLJ_ALLOWED, f"unexpected BroadcastNestedLoopJoin in: {bnlj - BNLJ_ALLOWED}"
    # "Exchange-free" = no COMPUTED shuffle; the deliberate input-spread
    # repartition (REPARTITION_BY_NUM over an under-split scan, a no-op at
    # production split counts) is counted separately and capped at one
    for n in ZERO_SHUFFLE:
        r = rows[n]
        assert r["shuffle_exchanges"] == r["range_exchanges"] == 0, (
            f"{n} must stay Exchange-free, got {r}"
        )
        assert r["spread_exchanges"] <= 1, f"{n} spread more than once: {r}"
    for n in KERNEL_ZERO_SHUFFLE:
        r = rows[n]
        assert r["shuffle_exchanges"] == 0 and (
            r["map_in_pandas"] + r["arrow_eval"] >= 1
        ), f"{n} must be a zero-shuffle Arrow kernel, got {r}"
        assert r["spread_exchanges"] <= 1, f"{n} spread more than once: {r}"


def test_only_the_doc_id_input_spread_is_reclassified():
    """The documents scan spread is not a computed shuffle; a
    ``repartition(n, cols)`` on any other key still is."""
    from plan_lint import is_input_spread

    doc_spread = "+- Exchange hashpartitioning(doc_id#12L, 8), REPARTITION_BY_NUM, [plan_id=40]"
    conv_repart = "+- Exchange hashpartitioning(conv_id#3, 8), REPARTITION_BY_NUM, [plan_id=41]"
    assert is_input_spread(doc_spread)
    assert not is_input_spread(conv_repart)


def test_pushdown_and_column_pruning(spark):
    """Filters reach the parquet scan (PushedFilters) and the scan reads
    only referenced columns (ReadSchema excludes unused ones) — the two
    properties that decide whether a 100 TB scan reads 100 TB or a
    fraction of it."""
    import re
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    plan = e.queries()["pit_features"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(event_type,purchase)" in plan  # probe filter pushed to scan
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("props" not in s and "value" not in s for s in schemas), (
        "events scan must prune unreferenced columns (props/value)")

    # text query: documents scan prunes everything but (doc_id, text)
    plan2 = e.queries()["text_stats"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    s2 = re.findall(r"ReadSchema: (\S+)", plan2)
    assert s2 and all(set(re.findall(r"(\w+):", x)) <= {"doc_id", "text"} for x in s2)
