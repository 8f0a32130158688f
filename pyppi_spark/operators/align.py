"""Conversation alignment — the working analog of the reference's
Needleman-Wunsch kernel (J11/W8: ``/root/reference/pyPPI/alignment/
NWAlignment.py:5-78`` builds the DP matrix, ``resReduce.py:29-52`` walks the
ordered traceback). The reference path is dead code (SURVEY §5.2 proves it
crashes); here the same DP aligns two VERSIONS of a conversation (original
vs edited transcript) — a real transcript-pipeline operation (diffing a
redacted/retouched export against its source).

Physical shape (details in ``align_conversations``): each side collapses
to one row per conversation of packed, (ts, idx)-sorted turn arrays
(``sort_array(collect_list(struct))``), the two sides full-outer join on
the conversation key, and ONE ``mapInPandas`` kernel aligns every
conversation pair of each Arrow batch. The DP runs in numpy with each row
vectorized (the horizontal gap recurrence ``H[i,j] = max(c_j, H[i,j-1]-gap)``
is a prefix-max after the ``g_j = H[i,j]+j·gap`` transform), aligned rows
out.
This is the designated slow-path escape hatch (SURVEY §2.9 UDF-1): a DP
with sequential data dependence cannot be expressed in relational
operators.

Scoring (deterministic, pinned): +match for equal normalized text,
+sub_role for different text with equal role, +mismatch otherwise; ±gap
per insertion/deletion. Traceback tie priority: diagonal > up (delete) >
left (insert) — so outputs are identical across runs and partitionings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
import pyspark.sql.types as T

ALIGN_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("left_idx", T.LongType(), True),
        T.StructField("right_idx", T.LongType(), True),
        T.StructField("op", T.StringType(), False),  # match | sub | del | ins
        T.StructField("pair_score", T.DoubleType(), False),
        T.StructField("total_score", T.DoubleType(), False),
    ]
)


def _nw_align(
    l_text: list[str],
    r_text: list[str],
    l_role: list[str],
    r_role: list[str],
    match: float,
    sub_role: float,
    mismatch: float,
    gap: float,
) -> tuple[list[tuple[int | None, int | None, str, float]], float]:
    """Needleman-Wunsch over two turn sequences; returns (ops, total).
    Each op is (left_pos, right_pos, kind, pair_score) with 0-based
    positions into the sorted sequences."""
    n, m = len(l_text), len(r_text)
    # substitution matrix rows built per i (vectorized over j)
    r_text_arr = np.array(r_text, dtype=object)
    r_role_arr = np.array(r_role, dtype=object)
    H = np.empty((n + 1, m + 1), dtype=np.float64)
    H[0, :] = np.arange(m + 1) * gap
    H[:, 0] = np.arange(n + 1) * gap
    jidx = np.arange(1, m + 1, dtype=np.float64)
    for i in range(1, n + 1):
        s = np.where(
            r_text_arr == l_text[i - 1],
            match,
            np.where(r_role_arr == l_role[i - 1], sub_role, mismatch),
        ).astype(np.float64)
        c = np.maximum(H[i - 1, :-1] + s, H[i - 1, 1:] + gap)  # diag, up
        # horizontal recurrence H[i,j] = max(c_j, H[i,j-1]+gap) as a
        # prefix-max: g_j = H[i,j] - j*gap is the running max of c_j - j*gap
        # seeded by H[i,0]. The ±j*gap roundtrip can perturb H by ~1 ULP
        # for non-integral parameters, so the traceback below compares with
        # a tolerance and the returned total is the SUM of the chosen ops
        # (self-consistent by construction; bit-equal to H[n,m] whenever
        # the parameters are exactly representable, e.g. the defaults).
        g = np.maximum.accumulate(
            np.concatenate(([H[i, 0]], c - jidx * gap))
        )
        H[i, 1:] = g[1:] + jidx * gap

    def near(a: float, b: float) -> bool:
        return abs(a - b) <= 1e-9 * (1.0 + abs(a) + abs(b))

    ops: list[tuple[int | None, int | None, str, float]] = []
    i, j = n, m
    while i > 0 or j > 0:
        if i > 0 and j > 0:
            s = (
                match
                if l_text[i - 1] == r_text[j - 1]
                else (sub_role if l_role[i - 1] == r_role[j - 1] else mismatch)
            )
            if near(H[i, j], H[i - 1, j - 1] + s):  # diagonal first (priority)
                kind = "match" if l_text[i - 1] == r_text[j - 1] else "sub"
                ops.append((i - 1, j - 1, kind, float(s)))
                i, j = i - 1, j - 1
                continue
        if i > 0 and (j == 0 or near(H[i, j], H[i - 1, j] + gap)):  # up = delete
            ops.append((i - 1, None, "del", float(gap)))
            i -= 1
            continue
        ops.append((None, j - 1, "ins", float(gap)))
        j -= 1
    ops.reverse()
    total = float(sum(p for _, _, _, p in ops)) if ops else 0.0
    return ops, total


def _nw_lastrow(
    l_text,
    l_role,
    r_text_arr: np.ndarray,
    r_role_arr: np.ndarray,
    match: float,
    sub_role: float,
    mismatch: float,
    gap: float,
) -> np.ndarray:
    """Final DP row of NW(l, r) in O(len(r)) memory (same vectorized
    prefix-max recurrence as ``_nw_align``, keeping only two rows)."""
    m = len(r_text_arr)
    Hprev = np.arange(m + 1, dtype=np.float64) * gap
    jidx = np.arange(1, m + 1, dtype=np.float64)
    for i in range(len(l_text)):
        s = np.where(
            r_text_arr == l_text[i],
            match,
            np.where(r_role_arr == l_role[i], sub_role, mismatch),
        ).astype(np.float64)
        c = np.maximum(Hprev[:-1] + s, Hprev[1:] + gap)
        h0 = Hprev[0] + gap
        g = np.maximum.accumulate(np.concatenate(([h0], c - jidx * gap)))
        Hcur = np.empty(m + 1)
        Hcur[0] = h0
        Hcur[1:] = g[1:] + jidx * gap
        Hprev = Hcur
    return Hprev


def _nw_align_linear(
    l_text: list[str],
    r_text: list[str],
    l_role: list[str],
    r_role: list[str],
    match: float,
    sub_role: float,
    mismatch: float,
    gap: float,
    base_cells: int = 256 * 256,
) -> tuple[list[tuple[int | None, int | None, str, float]], float]:
    """Hirschberg divide-and-conquer NW: an OPTIMAL alignment in
    O(min-side) memory instead of the full O(n·m) matrix — the
    memory-bounded path for pathological giant conversation pairs
    (SURVEY §7.3: a 10⁶-turn pair's full matrix is ~8 TB; this holds two
    rows). ~2× the full-DP arithmetic, same O(n·m) time.

    Split rule: halve the left sequence, score forward(top) +
    backward(bottom) last rows, cut the right sequence at the FIRST
    argmax (deterministic). Subproblems at or below ``base_cells`` drop
    into the full-DP traceback (``_nw_align``), so tie-breaking inside
    blocks follows the same diagonal>up>left priority. The total score
    equals the full DP's optimum (bit-equal for exactly-representable
    parameters, e.g. the integral defaults — tested); among CO-OPTIMAL
    alignments the chosen op sequence may differ from the full-DP
    traceback at block boundaries, which is the documented trade for
    linear memory."""
    ops: list[tuple[int | None, int | None, str, float]] = []

    def rec(li: int, lj: int, ri: int, rj: int) -> None:
        n, m = lj - li, rj - ri
        if n == 0:
            ops.extend((None, j, "ins", float(gap)) for j in range(ri, rj))
            return
        if m == 0:
            ops.extend((i, None, "del", float(gap)) for i in range(li, lj))
            return
        if n * m <= base_cells or n <= 2:
            sub_ops, _ = _nw_align(
                l_text[li:lj], r_text[ri:rj], l_role[li:lj], r_role[ri:rj],
                match, sub_role, mismatch, gap,
            )
            ops.extend(
                (
                    a + li if a is not None else None,
                    b + ri if b is not None else None,
                    kind,
                    ps,
                )
                for a, b, kind, ps in sub_ops
            )
            return
        h = li + n // 2
        r_arr = np.array(r_text[ri:rj], dtype=object)
        ro_arr = np.array(r_role[ri:rj], dtype=object)
        fwd = _nw_lastrow(
            l_text[li:h], l_role[li:h], r_arr, ro_arr, match, sub_role, mismatch, gap
        )
        bwd = _nw_lastrow(
            l_text[h:lj][::-1], l_role[h:lj][::-1], r_arr[::-1], ro_arr[::-1],
            match, sub_role, mismatch, gap,
        )
        k = int(np.argmax(fwd + bwd[::-1]))  # first max → deterministic
        rec(li, h, ri, ri + k)
        rec(h, lj, ri + k, rj)

    rec(0, len(l_text), 0, len(r_text))
    total = float(sum(p for _, _, _, p in ops)) if ops else 0.0
    return ops, total


def align_conversations(
    left: DataFrame,
    right: DataFrame,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    match: float = 2.0,
    sub_role: float = 0.0,
    mismatch: float = -1.0,
    gap: float = -1.0,
    max_dp_cells: int = 25_000_000,
) -> DataFrame:
    """Align two versions of every conversation; one output row per aligned
    position carrying the matched turn indexes, the op, its score, and the
    conversation's total alignment score.

    Scale notes: one shuffle per side on the entity key; a conversation is
    a single row of collected turn arrays — the documented straggler risk
    is a pathologically long single conversation (DP is O(n·m) in it), the
    same whole-entity-locality trade the merge as-of strategy makes. Pairs
    whose matrix would exceed ``max_dp_cells`` (default 25M cells ≈
    200 MB) switch to the Hirschberg linear-memory DP
    (``_nw_align_linear``): same optimal total score, O(turns) memory,
    co-optimal op sequences may differ from the full traceback at block
    boundaries.

    Physical shape (changed r07): the cogrouped ``applyInPandas`` form
    invoked Python once PER CONVERSATION (~0.4 ms of per-group overhead ×
    15k conversations at 1M events ≈ the whole query cost). Now each side
    collapses to one row per conversation — ``sort_array(collect_list(
    struct(ts, idx, text, role)))``, a plain hash aggregation whose struct
    order equals the old per-group mergesort because (ts, idx) is the
    repo-wide total order — the sides full-outer join on the conversation
    key (absent side ⇒ empty arrays, exactly the cogroup's empty-frame
    case), and ONE ``mapInPandas`` kernel loops conversations inside each
    Arrow batch: per-group Python dispatch becomes a per-row numpy loop.
    Ops accumulate into flat column lists (the old per-op dict rows were a
    second per-group cost). Same DP kernels, same tie priority, same
    output rows.
    """
    cols = [conv_col, ts_col, idx_col, text_col, role_col]

    def packed(df: DataFrame, tag: str) -> DataFrame:
        turns = F.struct(
            F.col(ts_col).alias("ts"),
            F.col(idx_col).cast("long").alias("idx"),
            F.col(text_col).alias("text"),
            F.col(role_col).alias("role"),
        )
        return (
            df.select(F.col(conv_col).alias("_cid"), turns.alias("_t"))
            .groupBy("_cid")
            .agg(F.sort_array(F.collect_list("_t")).alias(f"_{tag}"))
        )

    joined = packed(left.select(*cols), "l").join(
        packed(right.select(*cols), "r").withColumnRenamed("_cid", "_cid_r"),
        F.col("_cid") == F.col("_cid_r"),
        "full_outer",
    ).select(
        F.coalesce("_cid", "_cid_r").alias("_cid"), "_l", "_r"
    )

    def kernel(batches):
        for b in batches:
            out_cid: list = []
            out_li: list = []
            out_ri: list = []
            out_op: list = []
            out_ps: list = []
            out_ts: list = []
            for cid, lrow, rrow in zip(b["_cid"], b["_l"], b["_r"]):
                lrow = lrow if lrow is not None and len(lrow) else []
                rrow = rrow if rrow is not None and len(rrow) else []
                lt = [t["text"] for t in lrow]
                rt = [t["text"] for t in rrow]
                lr = [t["role"] for t in lrow]
                rr = [t["role"] for t in rrow]
                algo = (
                    _nw_align_linear
                    if len(lt) * len(rt) > max_dp_cells
                    else _nw_align
                )
                ops, total = algo(lt, rt, lr, rr, match, sub_role, mismatch, gap)
                l_idx = [t["idx"] for t in lrow]
                r_idx = [t["idx"] for t in rrow]
                for a, bb, kind, ps in ops:
                    out_cid.append(cid)
                    out_li.append(int(l_idx[a]) if a is not None else None)
                    out_ri.append(int(r_idx[bb]) if bb is not None else None)
                    out_op.append(kind)
                    out_ps.append(ps)
                    out_ts.append(total)
            yield pd.DataFrame(
                {
                    "conv_id": out_cid,
                    "left_idx": pd.array(out_li, dtype="Int64"),
                    "right_idx": pd.array(out_ri, dtype="Int64"),
                    "op": out_op,
                    "pair_score": out_ps,
                    "total_score": out_ts,
                }
            )

    return joined.mapInPandas(kernel, schema=ALIGN_SCHEMA)
