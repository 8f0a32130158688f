"""Self-test of the correctness checks: each check must pass on a correct
output built from its reference and fail on every corrupted copy.

    python3 perfbench/selftest.py

Needs numpy, pandas and pyarrow only (no Spark); exits non-zero on a check
that misses a corruption or rejects a correct output.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def features_case(rng):
    t = gen.transcripts(rng, np.array([1, 5, 40, 3, 12]))
    ref = checks.conv_reference(t)
    out = ref.copy()
    out["conv"] = np.arange(len(ref))
    for a in checks.ROLE_NAMES:
        for b in checks.ROLE_NAMES:
            out[f"t_{a}__{b}"] = 0
    out["t_user__user"] = ref["n_turns"] - 1
    ledger = pd.DataFrame({"status": ["done"] * 2, "rows_out": [2, len(ref) - 2]})

    def run(o=out, led=ledger):
        return checks.check_conv_features(o, t, led)

    def bump(col, by=1, row=2):
        o = out.copy()
        o.loc[row, col] += by
        return o

    bad = {
        "n_sessions off by one": run(bump("n_sessions")),
        "role count off by one": run(bump("n_tool")),
        "last_ts moved": run(bump("last_ts", 1)),
        "latency_max_s off": run(bump("latency_max_s", 0.5)),
        "bigram sum off": run(bump("t_tool__user")),
        "conversation missing": run(out.iloc[1:]),
        "ledger short": run(led=ledger.assign(rows_out=[2, 1])),
    }
    return run(), bad


def pit_case(rng):
    t = gen.transcripts(rng, np.array([6, 1, 30, 9]))
    p = gen.probes(rng, t)
    ref = checks.pit_reference(t, p)
    matched = ref["n_turns_so_far"] > 0
    out = pd.DataFrame(
        {
            "probe": p["probe_id"],
            "ts": np.where(matched, ref["ts"], np.nan),
            "n_turns_so_far": np.where(matched, ref["n_turns_so_far"], np.nan),
            "n_sessions_so_far": np.where(matched, 1.0, np.nan),
            "last_role": ref["last_role"],
        }
    )

    def run(o=out):
        return checks.check_pit(o, t, p)

    first_matched, first_unmatched = int(np.flatnonzero(matched)[0]), int(np.flatnonzero(~matched)[0])

    def with_(row, **kv):
        o = out.copy()
        for k, v in kv.items():
            o.loc[row, k] = v
        return o

    i = first_matched
    bad = {
        "n_turns_so_far off by one": run(with_(i, n_turns_so_far=out.loc[i, "n_turns_so_far"] + 1)),
        "wrong last_role": run(with_(i, last_role="system" if out.loc[i, "last_role"] != "system" else "user")),
        "matched turn after the probe": run(with_(i, ts=p["probe_ts"][i] + 1)),
        "state before the first turn": run(with_(first_unmatched, n_sessions_so_far=1.0)),
        "probe missing": run(out.iloc[1:]),
    }
    return run(), bad


def dedup_case(rng):
    d = gen.documents(rng, 120, n_clusters=12)
    cl = d["cluster"]
    first = ~pd.Series(cl).duplicated().to_numpy() | (cl < 0)
    kept = d["doc_id"][first]
    base = {c: i for i, c in enumerate(cl) if c >= 0 and first[i]}
    pairs = pd.DataFrame(
        [(d["doc_id"][base[c]], d["doc_id"][i]) for i, c in enumerate(cl) if c >= 0 and not first[i]],
        columns=["a", "b"],
    )
    sem, _ = checks.check_semantic(pairs, d, 0.95)
    good = checks.check_text_dedup(kept, pairs, d, 0.8) + sem
    unclustered = d["doc_id"][cl < 0]
    copy = d["doc_id"][~first][0]
    stranger = pd.DataFrame({"a": [unclustered[0]], "b": [unclustered[1]]})
    bad = {
        "survivor dropped": checks.check_text_dedup(kept[1:], pairs, d, 0.8),
        "two survivors in a cluster": checks.check_text_dedup(np.append(kept, copy), pairs, d, 0.8),
        "unrelated pair verified": checks.check_text_dedup(kept, pd.concat([pairs, stranger]), d, 0.8),
        "unrelated semantic pair": checks.check_semantic(pd.concat([pairs, stranger]), d, 0.95)[0],
    }
    return good, bad


def main() -> int:
    rng = np.random.default_rng(7)
    failures = 0
    for name, case in [("features", features_case), ("pit", pit_case), ("dedup", dedup_case)]:
        good, bad = case(rng)
        if good:
            print(f"FAIL {name}: correct output rejected: {good}")
            failures += 1
        for what, errs in bad.items():
            ok = bool(errs)
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {name}: {what} -> {errs[0] if errs else 'not detected'}")
    print("selftest", "passed" if not failures else f"failed ({failures})")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
