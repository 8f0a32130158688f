"""Correctness checks, computed apart from the program.

Every reference here comes from the generator's numpy arrays (see gen.py);
none calls into ``pyppi_spark``. Each check takes the program's output as
plain pandas/numpy data and returns a list of error strings, empty when the
output is correct.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from gen import GAP_S, ROLES

ROLE_NAMES = list(ROLES)


def conv_reference(t: dict[str, np.ndarray]) -> pd.DataFrame:
    """Per-conversation features from turn arrays in (ts, turn_idx) order."""
    conv, ts = t["conv"], t["ts"]
    n = np.bincount(conv)
    starts = np.concatenate([[0], np.cumsum(n)[:-1]])
    gap = np.diff(ts, prepend=ts[0])
    inner = np.ones(len(ts), dtype=bool)
    inner[starts] = False
    ref = pd.DataFrame(
        {
            "n_turns": n,
            "n_sessions": 1 + np.bincount(conv, weights=inner & (gap > GAP_S * 1_000_000)).astype(np.int64),
            "first_ts": ts[starts],
            "last_ts": ts[starts + n - 1],
        }
    )
    for code, r in enumerate(ROLE_NAMES):
        ref[f"n_{r}"] = np.bincount(conv, weights=t["role"] == code, minlength=len(n)).astype(np.int64)
    lat = np.full(len(n), -np.inf)
    np.maximum.at(lat, conv[inner], gap[inner] / 1e6)
    ref["latency_max_s"] = np.where(n > 1, lat, np.nan)
    return ref


def check_conv_features(out: pd.DataFrame, t: dict[str, np.ndarray], ledger: pd.DataFrame) -> list[str]:
    """``out``: conv_features rows keyed by an integer ``conv`` column, with
    ``first_ts``/``last_ts`` in epoch microseconds. ``ledger``: the
    checkpoint ledger rows of the checked run."""
    ref = conv_reference(t)
    errs = []
    if len(out) != len(ref) or out["conv"].duplicated().any():
        return [f"features: {len(out)} rows for {len(ref)} conversations"]
    got = out.set_index("conv").sort_index()
    if not got.index.equals(pd.RangeIndex(len(ref))):
        return ["features: conversation ids differ from the input's"]
    cols = ["n_turns", "n_sessions", "first_ts", "last_ts"] + [f"n_{r}" for r in ROLE_NAMES]
    for c in cols:
        bad = np.flatnonzero(got[c].to_numpy() != ref[c].to_numpy())
        if len(bad):
            errs.append(f"features: {c} wrong for {len(bad)} conversations, e.g. conv {bad[0]}")
    lat_ok = np.isclose(got["latency_max_s"].to_numpy(float), ref["latency_max_s"].to_numpy(), rtol=0, atol=1e-6, equal_nan=True)
    if not lat_ok.all():
        errs.append(f"features: latency_max_s wrong for {int((~lat_ok).sum())} conversations")
    bigrams = got[[c for c in got.columns if c.startswith("t_")]].sum(axis=1).to_numpy()
    if len(got.columns[got.columns.str.startswith("t_")]) != 16 or (bigrams != ref["n_turns"].to_numpy() - 1).any():
        errs.append("features: role-bigram counts do not sum to n_turns - 1")
    if (ledger["status"] != "done").any() or int(ledger["rows_out"].sum()) != len(ref):
        errs.append(f"checkpoint: ledger rows_out sums to {int(ledger['rows_out'].sum())}, not {len(ref)}")
    return errs


def pit_reference(t: dict[str, np.ndarray], p: dict[str, np.ndarray]) -> pd.DataFrame:
    """Per probe: turns at or before probe_ts, and the role and ts of the
    last of them (ties in ts broken by the larger turn_idx)."""
    conv, ts = t["conv"], t["ts"]
    n = np.bincount(conv)
    starts = np.concatenate([[0], np.cumsum(n)[:-1]])
    k = np.zeros(len(p["conv"]), dtype=np.int64)
    order = np.argsort(p["conv"], kind="stable")
    pc = p["conv"][order]
    bounds = np.searchsorted(pc, np.arange(len(n) + 1))
    for c in np.flatnonzero(np.diff(bounds)):
        sel = order[bounds[c]:bounds[c + 1]]
        k[sel] = np.searchsorted(ts[starts[c]:starts[c] + n[c]], p["probe_ts"][sel], side="right")
    last = starts[p["conv"]] + k - 1
    return pd.DataFrame(
        {
            "n_turns_so_far": k,
            "last_role": np.where(k > 0, ROLES[t["role"][last]], None),
            "ts": np.where(k > 0, ts[last], -1),
        }
    )


def check_pit(out: pd.DataFrame, t: dict[str, np.ndarray], p: dict[str, np.ndarray]) -> list[str]:
    """``out``: one row per probe with integer ``probe`` index, ``ts`` (epoch
    µs, null when unmatched) and the PIT state columns."""
    ref = pit_reference(t, p)
    if len(out) != len(ref) or out["probe"].duplicated().any():
        return [f"pit: {len(out)} rows for {len(ref)} probes"]
    got = out.set_index("probe").sort_index()
    matched = ref["n_turns_so_far"].to_numpy() > 0
    errs = []
    n_got = got["n_turns_so_far"].to_numpy(float)
    if not (np.isnan(n_got[~matched]).all() and (n_got[matched] == ref["n_turns_so_far"].to_numpy()[matched]).all()):
        errs.append(f"pit: n_turns_so_far wrong for {int((np.nan_to_num(n_got, nan=0) != ref['n_turns_so_far']).sum())} probes")
    roles = got["last_role"].to_numpy(object)
    if not (roles == ref["last_role"].to_numpy(object)).all():
        errs.append(f"pit: last_role wrong for {int((roles != ref['last_role'].to_numpy(object)).sum())} probes")
    ts_got = got["ts"].to_numpy(float)
    leak = ts_got[matched] > p["probe_ts"][matched]
    if leak.any():
        errs.append(f"pit: {int(leak.sum())} matched turns lie after their probe (temporal leakage)")
    if not (ts_got[matched] == ref["ts"].to_numpy()[matched]).all():
        errs.append("pit: matched ts is not the last turn at or before the probe")
    state = [c for c in got.columns if c != "probe"]
    if got.loc[~matched, state].notna().any().any():
        errs.append("pit: probes before the first turn carry non-null state")
    return errs


def _grams(text: str, n: int = 3) -> set:
    words = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    if len(words) < n:
        return {tuple(words)}
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def planted_pairs(cluster: np.ndarray) -> set[tuple[int, int]]:
    """Index pairs (i < j) of documents that share a planted cluster."""
    out = set()
    members = pd.Series(np.arange(len(cluster)))[cluster >= 0].groupby(cluster[cluster >= 0])
    for idx in members:
        v = sorted(idx[1].tolist())
        out.update((a, b) for i, a in enumerate(v) for b in v[i + 1:])
    return out


def check_text_dedup(kept_ids: np.ndarray, pairs: pd.DataFrame, d: dict, threshold: float) -> list[str]:
    """Survivors: every unclustered document plus exactly one member of each
    planted cluster. Verified pairs: 3-gram Jaccard >= threshold."""
    pos = pd.Series(np.arange(len(d["doc_id"])), index=d["doc_id"])
    errs = []
    kept = pos.reindex(kept_ids).to_numpy()
    if np.isnan(kept.astype(float)).any() or len(set(kept_ids)) != len(kept_ids):
        return ["dedup: survivors hold unknown or repeated doc ids"]
    cl = d["cluster"]
    n_dups = int((cl >= 0).sum() - len(np.unique(cl[cl >= 0])))
    if len(kept) != len(cl) - n_dups:
        errs.append(f"dedup: {len(kept)} survivors, expected {len(cl) - n_dups}")
    kept_cl = cl[kept.astype(int)]
    per_cluster = np.bincount(kept_cl[kept_cl >= 0], minlength=int(cl.max()) + 1)
    if (per_cluster != 1).any():
        errs.append(f"dedup: {int((per_cluster != 1).sum())} planted clusters do not keep exactly one member")
    low = 0
    for a, b in zip(pos[pairs["a"]].to_numpy(), pos[pairs["b"]].to_numpy()):
        ga, gb = _grams(d["text"][a]), _grams(d["text"][b])
        if len(ga & gb) / len(ga | gb) < threshold:
            low += 1
    if low:
        errs.append(f"dedup: {low} verified pairs have Jaccard below {threshold}")
    return errs


def check_semantic(pairs: pd.DataFrame, d: dict, threshold: float) -> tuple[list[str], float]:
    """Every reported pair has cosine >= threshold. Returns the errors and
    the recall of the planted pairs."""
    pos = pd.Series(np.arange(len(d["doc_id"])), index=d["doc_id"])
    a, b = pos.reindex(pairs["a"]).to_numpy(), pos.reindex(pairs["b"]).to_numpy()
    if np.isnan(np.concatenate([a, b]).astype(float)).any():
        return ["semantic: pairs hold unknown doc ids"], 0.0
    a, b = a.astype(int), b.astype(int)
    e = d["embedding"]
    cos = (e[a] * e[b]).sum(1) / (np.linalg.norm(e[a], axis=1) * np.linalg.norm(e[b], axis=1))
    errs = []
    if (cos < threshold - 1e-9).any():
        errs.append(f"semantic: {int((cos < threshold - 1e-9).sum())} pairs have cosine below {threshold}")
    planted = planted_pairs(d["cluster"])
    found = {(min(x, y), max(x, y)) for x, y in zip(a, b)}
    recall = len(planted & found) / max(1, len(planted))
    return errs, recall
