"""Physical-plan lint over every driver query → BENCH/PLAN_AUDIT.md.

The 100 TB discipline, enforced mechanically: for each
``__spark_entry__.queries()`` entry the tool renders the physical plan
and counts the operators that decide scale behavior —

- ``Exchange`` (shuffles; broadcast exchanges counted separately — they
  are the CHEAP kind),
- join strategies (``SortMergeJoin`` / ``ShuffledHashJoin`` /
  ``BroadcastHashJoin`` / ``BroadcastNestedLoopJoin`` — the last is
  quadratic and only tolerable on provably tiny inputs),
- Python execution nodes: Arrow-vectorized (``MapInPandas``,
  ``FlatMapGroupsInPandas``, ``FlatMapCoGroupsInPandas``,
  ``ArrowEvalPython``) vs row-at-a-time ``BatchEvalPython``, which is
  BANNED from this engine (tested in ``tests/test_plan_lint.py``).

Some composition queries (components loops) execute eagerly while the
DataFrame is being built; the audit therefore runs at sf0.001 to keep
the tool fast. Plan SHAPE is scale-independent of the input size.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

COUNTERS = [
    # deliberate input-spread repartitions (REPARTITION_BY_NUM — the
    # under-split-scan escape, a no-op at production split counts) are
    # counted separately from computed shuffles so the Exchange-free
    # invariant keeps catching ACCIDENTAL exchanges
    ("shuffle_exchanges", "Exchange hashpartitioning"),
    ("spread_exchanges", "REPARTITION_BY_NUM"),
    ("range_exchanges", "Exchange rangepartitioning"),
    ("broadcast_exchanges", "BroadcastExchange"),
    ("sort_merge_joins", "SortMergeJoin"),
    ("shuffled_hash_joins", "ShuffledHashJoin"),
    ("broadcast_hash_joins", "BroadcastHashJoin"),
    ("bnl_joins", "BroadcastNestedLoopJoin"),
    ("map_in_pandas", "MapInPandas"),
    ("cogroup_pandas", "FlatMapCoGroupsInPandas"),
    ("grouped_map_pandas", "FlatMapGroupsInPandas"),
    ("arrow_eval", "ArrowEvalPython"),
    ("batch_eval_python", "BatchEvalPython"),
]


def is_input_spread(line: str) -> bool:
    """True for the one deliberate input spread, ``_documents``' hash
    repartition of an under-split scan on doc_id (REPARTITION_BY_NUM).
    Every other ``repartition(n, cols)`` stays a shuffle exchange, so a
    stray one still breaks the Exchange-free invariant."""
    return "Exchange hashpartitioning(doc_id" in line and "REPARTITION_BY_NUM" in line


def audit(names: list[str] | None = None, spark=None) -> dict[str, dict[str, int]]:
    import __spark_entry__ as e

    own_session = spark is None
    if own_session:
        from pyppi_spark.session import build_spark

        spark = build_spark("plan_lint", master="local[8]", shuffle_partitions=8)
    out: dict[str, dict[str, int]] = {}
    qs = e.queries()
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
            row = {k: plan.count(pat) for k, pat in COUNTERS}
            row["shuffle_exchanges"] -= sum(map(is_input_spread, plan.splitlines()))
            row["err"] = 0
        except Exception:
            row = {k: -1 for k, _ in COUNTERS}
            row["err"] = 1
        out[name] = row
    if own_session:
        spark.stop()
    return out


def main() -> None:
    names = sys.argv[1:] or None
    rows = audit(names)
    cols = [k for k, _ in COUNTERS]
    lines = [
        "# PLAN_AUDIT — physical-plan lint over every driver query",
        "",
        f"Input: `{SF_DIR}` (plan shape is size-independent). Regenerate:",
        "`python tools/plan_lint.py`. Invariants enforced by",
        "`tests/test_plan_lint.py`: **zero row-at-a-time `BatchEvalPython`**",
        "anywhere, and `BroadcastNestedLoopJoin` only on the explicit",
        "allowlist of provably-tiny broadcast sides (`similarity_topk`: the",
        "5-row query set of the brute-force baseline; `top_tokens` and the",
        "quality_lm family (`unigram_surprisal`, `perplexity_buckets`,",
        "`bigram_surprisal`, `quality_mix`): a 1-row corpus-size /",
        "total-token-count scalar). Everywhere else expensive predicates",
        "live in projections/filters above joins, never in a BNLJ",
        "condition — see BENCH/BASELINE.md kernel A/B.",
        "",
        "Zero-shuffle class (scan→project, no Exchange permitted):",
        "text_stats, pii_stats, dataset_split, chunk_docs, token_stats,",
        "jsonl_scan; single-kernel class (one MapInPandas, no Exchange):",
        "media_features, frame_sample, winnow, pipe_transform.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for name, row in rows.items():
        lines.append(
            f"| {name} | " + " | ".join(str(row[c]) for c in cols) + " |"
        )
    bad = [n for n, r in rows.items() if r["batch_eval_python"] > 0]
    bnl = [n for n, r in rows.items() if r["bnl_joins"] > 0]
    lines += [
        "",
        f"- queries audited: {len(rows)}",
        f"- BatchEvalPython (row-at-a-time Python) offenders: {bad or 'NONE'}",
        f"- BroadcastNestedLoopJoin offenders: {bnl or 'NONE'}",
    ]
    path = os.path.join(REPO, "BENCH", "PLAN_AUDIT.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(path)
    for name, row in rows.items():
        print(name, {k: v for k, v in row.items() if v})


if __name__ == "__main__":
    main()
