"""Seeded input generator for the benchmark.

Written with numpy and pyarrow only, so no change to the program under test
can change the inputs. Every table is written as several parquet files of
two row groups each, so Spark scans split across all task threads.

Planted cases:

- transcripts: exact ``ts`` ties (gap 0), gaps of exactly the 1800 s session
  threshold (stays in session) and one microsecond over it (new session),
  long gaps, and runs of tool turns whose ``tool`` is null;
- probes: exactly on a turn's ``ts``, strictly between turns, before the
  first turn and after the last;
- documents: exact-duplicate clusters (case and whitespace changes) and
  near-duplicate clusters (one word replaced), each with near-identical
  embeddings, among random documents.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "browser", "python", "bash", "sql"])
GAP_S = 1800  # the session threshold of pyppi_spark.operators.sessionize
T0_US = 1_700_000_000 * 1_000_000
DIM = 64


def zipf_sizes(rng, n: int, cap: int, a: float = 1.7) -> np.ndarray:
    return np.minimum(rng.zipf(a, size=n), cap).astype(np.int64)


def transcripts(rng, sizes: np.ndarray) -> dict[str, np.ndarray]:
    """Turn arrays in conversation order: conv index, turn_idx, role code,
    tool code (-1 = null) and ts in epoch microseconds."""
    n = int(sizes.sum())
    conv = np.repeat(np.arange(len(sizes)), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn_idx = np.arange(n) - np.repeat(starts, sizes)
    role = rng.choice(4, size=n, p=[0.35, 0.35, 0.05, 0.25])
    tool = np.where(role == 3, rng.integers(0, len(TOOLS), size=n), -1)
    # null-tool runs: a tool turn loses its tool name, and so do the tool
    # turns right after it
    null_start = (role == 3) & (rng.random(n) < 0.08)
    tool[null_start] = -1
    follow = np.roll(null_start, 1) & (role == 3)
    follow[0] = False
    tool[follow] = -1
    kind = rng.random(n)
    gap = rng.exponential(40.0, size=n) * 1e6
    gap = np.where(kind < 0.08, 0.0, gap)  # exact ts ties
    gap = np.where((kind >= 0.08) & (kind < 0.10), GAP_S * 1e6, gap)  # stays
    gap = np.where((kind >= 0.10) & (kind < 0.12), GAP_S * 1e6 + 1, gap)  # new
    gap = np.where(kind >= 0.985, rng.uniform(1.5, 6.0, size=n) * 3600e6, gap)
    gap = gap.astype(np.int64)
    gap[starts] = rng.integers(0, 30 * 86400, size=len(sizes)) * 1_000_000
    ts = T0_US + _segmented_cumsum(gap, starts)
    return {"conv": conv, "turn_idx": turn_idx, "role": role, "tool": tool, "ts": ts}


def _segmented_cumsum(x: np.ndarray, starts: np.ndarray) -> np.ndarray:
    c = np.cumsum(x)
    offset = np.zeros_like(c)
    offset[starts[1:]] = c[starts[1:] - 1]
    return c - np.maximum.accumulate(offset)


def conv_ids(n: int) -> np.ndarray:
    return np.char.add("c", np.char.zfill(np.arange(n).astype(str), 6))


def transcript_table(t: dict[str, np.ndarray]) -> pa.Table:
    tool = pa.array(
        np.where(t["tool"] >= 0, TOOLS[np.maximum(t["tool"], 0)], None),
        pa.string(),
    )
    return pa.table(
        {
            "conv_id": pa.array(conv_ids(t["conv"].max() + 1)[t["conv"]]),
            "turn_idx": pa.array(t["turn_idx"].astype(np.int32)),
            "role": pa.array(ROLES[t["role"]]),
            "text": pa.array(np.char.add("turn ", t["turn_idx"].astype(str))),
            "tool": tool,
            "ts": pa.array(t["ts"], pa.timestamp("us", tz="UTC")),
        }
    )


def probes(rng, t: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """About one probe per two turns: 40% exactly on a turn's ts, 40%
    strictly between two turns (or after a tie), 10% before the first turn,
    10% after the last."""
    n = len(t["ts"])
    conv, ts = t["conv"], t["ts"]
    pick = np.sort(rng.choice(n, size=max(1, n // 2), replace=False))
    kind = rng.random(len(pick))
    p_ts = ts[pick].copy()
    nxt = np.minimum(pick + 1, n - 1)
    same_conv = conv[nxt] == conv[pick]
    span = np.where(same_conv, ts[nxt] - ts[pick], 3_600_000_000)
    between = (kind >= 0.4) & (kind < 0.8)
    p_ts[between] += 1 + (rng.random(between.sum()) * np.maximum(span[between] - 1, 1)).astype(np.int64)
    first = np.searchsorted(conv, conv[pick], side="left")
    last = np.searchsorted(conv, conv[pick], side="right") - 1
    before = (kind >= 0.8) & (kind < 0.9)
    after = kind >= 0.9
    p_ts[before] = ts[first[before]] - rng.integers(1, 86_400_000_000, size=before.sum())
    p_ts[after] = ts[last[after]] + rng.integers(1, 86_400_000_000, size=after.sum())
    return {"conv": conv[pick], "probe_ts": p_ts, "probe_id": np.arange(len(pick))}


def probe_table(p: dict[str, np.ndarray], n_convs: int) -> pa.Table:
    return pa.table(
        {
            "conv_id": pa.array(conv_ids(n_convs)[p["conv"]]),
            "probe_ts": pa.array(p["probe_ts"], pa.timestamp("us", tz="UTC")),
            "probe_id": pa.array(np.char.add("p", p["probe_id"].astype(str))),
        }
    )


def documents(rng, n_docs: int, n_clusters: int) -> dict:
    """Random word documents with planted duplicate clusters.

    Each cluster is one base document plus 1-3 copies: an exact copy with
    changed case and spacing, or a near copy with one word replaced
    (3-gram Jaccard >= 0.88 to the base at 60+ words). Copies get the base
    embedding plus small noise (cosine > 0.99); other documents' embeddings
    are independent Gaussians. Returns texts, embeddings, doc ids (shuffled,
    so cluster members are not adjacent) and the cluster of each document
    (-1 = none)."""
    vocab = np.array(["".join(w) for w in rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=(5000, 7))])
    copies = rng.integers(1, 4, size=n_clusters)
    n_base = n_docs - int(copies.sum())
    words = [rng.choice(vocab, size=int(rng.integers(60, 141))) for _ in range(n_base)]
    texts = [" ".join(w) for w in words]
    emb = rng.standard_normal((n_base, DIM))
    cluster = np.full(n_base, -1, dtype=np.int64)
    cluster[:n_clusters] = np.arange(n_clusters)
    extra_text, extra_emb, extra_cluster = [], [], []
    for c in range(n_clusters):
        for _ in range(copies[c]):
            w = words[c].copy()
            if rng.random() < 0.4:
                text = "  ".join(w).upper() if rng.random() < 0.5 else " " + " ".join(w) + "  "
            else:
                i = int(rng.integers(0, len(w)))
                repl = w[i]
                while repl == w[i]:
                    repl = vocab[rng.integers(0, len(vocab))]
                w[i] = repl
                text = " ".join(w)
            extra_text.append(text)
            extra_emb.append(emb[c] + rng.standard_normal(DIM) * 0.01)
            extra_cluster.append(c)
    texts = np.array(texts + extra_text, dtype=object)
    emb = np.vstack([emb, np.array(extra_emb)])
    cluster = np.concatenate([cluster, np.array(extra_cluster, dtype=np.int64)])
    doc_id = rng.permutation(n_docs).astype(np.int64) + 1
    return {"doc_id": doc_id, "text": texts, "embedding": emb, "cluster": cluster}


def document_table(d: dict) -> pa.Table:
    emb = pa.FixedSizeListArray.from_arrays(pa.array(d["embedding"].ravel()), DIM)
    return pa.table(
        {
            "doc_id": pa.array(d["doc_id"]),
            "text": pa.array(d["text"], pa.string()),
            "embedding": emb.cast(pa.list_(pa.float64())),
        }
    )


def write_parquet(rng, table: pa.Table, path: str, n_files: int) -> None:
    """Shuffle rows, then write ``n_files`` files of two row groups each."""
    os.makedirs(path, exist_ok=True)
    table = table.take(rng.permutation(table.num_rows))
    per_file = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        pq.write_table(
            part, os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=max(1, -(-part.num_rows // 2)),
        )
