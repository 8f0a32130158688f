"""Deduplication operators for large-scale training-data pipelines.

The reference's dedup surface is key-based ``insert ignore`` / set-dedup
(``/root/reference/pyPPI/sqls/createInterface.sql:7``,
``/root/reference/pyPPI/electrostat.py:140-160``); at 100 TB a pipeline also
needs content-level near-dup detection, so this module adds the standard
family: exact hash dedup, MinHash+LSH, SimHash, and n-gram Jaccard.

All hashing is JVM-side (``xxhash64``/``hash``/built-in array functions);
no Python in the hot path. MinHash uses the universal-hash family
``h_i(x) = (a_i * x + b_i) mod p`` (p = 2^31-1) over xxhash64 shingle values with
seeded constants, so signatures are deterministic and portable across runs
and cluster sizes.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window, functions as F

# 31-bit Mersenne prime: a_i, b_i, h < 2^31 keeps a_i*h < 2^62 — no int64
# overflow under Spark's ANSI arithmetic
MERSENNE_P = (1 << 31) - 1


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return f"`{name}`"


def _sql_str(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _normalize_sql(expr: str) -> str:
    """Lowercase, collapse whitespace — the canonical text key, as SQL text
    over ``expr`` (the one source for every normalizing site)."""
    return f"regexp_replace(lower(trim({expr})), '\\\\s+', ' ')"


def _normalize(text_col: str):
    """``_normalize_sql`` of a named column, as a Column."""
    return F.expr(_normalize_sql(_q(text_col)))


def _hash_sql(expr: str, hash_mode: str) -> str:
    """The word/gram hash of ``hash_mode`` as SQL text over ``expr``.

    ``fast`` is xxhash64. ``portable`` is a 32-bit hash reproducible in ANSI
    SQL engines: the integer value of the first 8 hex chars of md5. Spark
    ``conv(substring(md5(x),1,8),16,10)`` == DuckDB
    ``('0x'||substr(md5(x),1,8))::BIGINT`` — so signature queries get
    value-level oracles. ~3× slower than xxhash64 (cryptographic digest);
    production stays on ``fast``."""
    if hash_mode == "fast":
        return f"xxhash64({expr})"
    if hash_mode == "portable":
        return f"cast(conv(substring(md5(cast({expr} AS string)), 1, 8), 16, 10) AS bigint)"
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def _word_hash(expr: str, hash_mode: str):
    """``_hash_sql(expr, hash_mode)`` as a Column (``expr`` is SQL text)."""
    return F.expr(_hash_sql(expr, hash_mode))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact (normalized-content) dedup: keep one representative per distinct
    text — the min (or max) id.

    Formulation: hash the normalized text (xxhash64 — the shuffle key is
    fixed-width, not the document), window ``row_number`` per hash ordered
    by id, keep rank 1. One scan + one shuffle (a groupBy-then-self-join
    would scan and shuffle twice).

    The group key is (hash, length-of-normalized-text): a bare 64-bit hash
    silently merges colliding *distinct* documents, and at billions of docs
    the birthday bound makes that likely (~50% near 5B). Length is already
    a cheap pure function of the same input; the combined key pushes the
    collision probability to (same 64-bit hash ∧ same length) while the
    shuffle key stays fixed-width.
    """
    order = "ASC" if keep == "min" else "DESC"
    norm = _normalize_sql(_q(text_col))
    return (
        df.selectExpr("*", f"xxhash64({norm}) AS _k", f"length({norm}) AS _kl")
        .selectExpr(
            "*", f"row_number() OVER (PARTITION BY _k, _kl ORDER BY {_q(id_col)} {order}) AS _rn"
        )
        .where("_rn = 1")
        .drop("_k", "_kl", "_rn")
    )


def _minhash_coeffs(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P - 1, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P - 1, size=num_hashes, dtype=np.int64)
    return a.tolist(), b.tolist()


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_mode: str = "fast",
) -> DataFrame:
    """Per-document MinHash signature: array<long> of length ``num_hashes``.

    sig[i] = min over shingles s of (a_i * H(s) + b_i) mod p, where H is a
    64-bit hash of the word n-gram.

    Physical shape (everything codegen/window-exec — NO higher-order array
    functions, which Spark evaluates interpreted and which measured ~10×
    slower here):

    1. ``posexplode(split(text))`` → one row per word (codegen generate),
       word hashed immediately so downstream carries longs, not strings;
    2. shingle hash = hash of the (h0, lead(h1), lead(h2)) word-hash tuple
       via a window over (doc, pos). (The shifted-array-zip form that
       replaced windows elsewhere was A/B-measured HERE at 2.6× the cost:
       zipping/exploding structs of three STRING arrays moves ~10× the
       bytes per shingle row that this long-carrying window does — the
       zip trick wins only when the alternative window carries strings.)
    3. one ``array(min(...), …)`` aggregate expression — a ``min`` per hash
       function inside a single hash aggregation: map-side partials mean
       the shuffle carries 64 longs per (doc × map partition), never the
       shingle sets. There is
       deliberately no shingle-level de-dup: ``min`` is duplicate-
       insensitive, so the (id, shingle) ``dropDuplicates`` the first
       version ran was dead weight — Catalyst's RemoveRedundantAggregates
       was already eliding it (physical plans identical with and without;
       A/B value-diff 0 rows), it is gone from the code so the logical
       plan says what the physical plan does.

    Documents shorter than ``shingle_n`` words keep their ``pos == 0`` row
    (a partial shingle) so every document gets a signature.

    Each step is one ``selectExpr``/``agg`` call over SQL text: building
    the 64 ``min`` chains as Column objects cost 5.7–7.2k Py4J round trips
    (~0.6–0.8 s of driver time per call); as SQL text the whole plan takes
    under a hundred.

    ``hash_mode="portable"`` swaps xxhash64 for the md5-prefix hash
    (``_hash_sql``'s ``portable`` mode) at both hashing sites, making the
    signatures bit-reproducible in DuckDB — the driver oracle runs the identical
    construction in SQL. Keep ``fast`` for production.
    """
    a, b = _minhash_coeffs(num_hashes, seed)
    ident, p = _q(id_col), MERSENNE_P
    shingle = _hash_sql("concat_ws('|', " + ", ".join(f"_h{j}" for j in range(shingle_n)) + ")", hash_mode)
    leads = [
        f"lead(_h0, {j}) OVER (PARTITION BY {ident} ORDER BY _pos) AS _h{j}"
        for j in range(1, shingle_n)
    ]
    mins = ", ".join(f"min(pmod(pmod({a[i]} * _h, {p}) + {b[i]}, {p}))" for i in range(num_hashes))
    return (
        df.selectExpr(ident, f"posexplode(split({_normalize_sql(_q(text_col))}, ' ')) AS (_pos, _wd)")
        .selectExpr(ident, "_pos", f"{_hash_sql('_wd', hash_mode)} AS _h0")
        .selectExpr(ident, "_pos", "_h0", *leads)
        .where(f"_h{shingle_n - 1} IS NOT NULL OR _pos = 0")
        .selectExpr(ident, f"pmod({shingle}, {p}) AS _h")
        .groupBy(id_col)
        .agg(F.expr(f"array({mins}) AS minhash"))
    )


def _band_rows(signatures: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band_idx, band_hash) rows: posexplode of the per-band
    xxhash64 keys over a minhash signature — the banding step shared by
    the self-join and incremental LSH paths (one definition, so the key
    construction cannot drift between them)."""
    keys = ", ".join(
        "xxhash64(concat_ws(',', "
        + ", ".join(f"element_at(minhash, {i * rows_per_band + j + 1})" for j in range(rows_per_band))
        + "))"
        for i in range(bands)
    )
    return signatures.selectExpr(_q(id_col), f"posexplode(array({keys})) AS (band_idx, band_hash)")


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 32,
    rows_per_band: int = 2,
    seed: int = 42,
    hash_mode: str = "fast",
) -> DataFrame:
    """The PERSISTABLE LSH band-row table ``(id, band_idx, band_hash)`` of
    a corpus — what an incremental pipeline materializes next to
    ``content_keys`` so later increments never re-read or re-hash frozen
    corpus text (``near_dedup_incremental(old_bands=...)`` consumes it).
    ~bands × 12 bytes/doc at rest. All banding parameters must match
    between the run that wrote the table and the run that consumes it —
    ``jobs/dedup_corpus.py`` records them in a ``band_params`` sidecar
    table and validates on read. Reference analog: the staged materialized
    tables the reference reads back instead of re-deriving
    (/root/reference/bin/setupPpiDb.py:234-249)."""
    sigs = minhash_signatures(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle_n=shingle_n, seed=seed, hash_mode=hash_mode,
    )
    return _band_rows(sigs, id_col, bands, rows_per_band)


def _cap_band_buckets(
    banded: DataFrame,
    max_bucket_size: int | None,
    hot_bucket: str,
    observation,
    op_name: str,
) -> DataFrame:
    """Shared hot-bucket defense: census on the join keys (rides the
    exchange the downstream join needs), 'error' fails with the size,
    'skip' drops oversized buckets with optional Observation accounting.
    An ``observation`` is only meaningful with ``hot_bucket='skip'`` AND a
    cap actually set — 'error' mode never drops rows, and with
    ``max_bucket_size=None`` there is no cap to account for; silently
    ignoring the caller's Observation would leave it forever unattached
    (``observation.get`` then raises NO_OBSERVE_BEFORE_GET, which
    ``observation_metrics`` deliberately re-raises rather than mapping to
    the benign None), so both combinations raise here, at the cause."""
    if observation is not None and hot_bucket == "error" and max_bucket_size is not None:
        raise ValueError(
            f"{op_name}: observation accounting requires hot_bucket='skip' "
            "(error mode never drops rows; the Observation would never be "
            "attached to a DataFrame)"
        )
    if max_bucket_size is None:
        if observation is not None:
            raise ValueError(
                f"{op_name}: observation accounting requires max_bucket_size "
                "to be set (no cap, nothing to account; the Observation "
                "would never be attached to a DataFrame)"
            )
        return banded
    banded = banded.selectExpr(
        "*", "count(1) OVER (PARTITION BY band_idx, band_hash) AS _bsz"
    )
    if hot_bucket == "error":
        msg = (
            f" exceeds max_bucket_size={max_bucket_size} — collapse exact duplicates "
            "upstream (exact_dedup) or pass hot_bucket='skip'"
        )
        banded = banded.where(
            f"CASE WHEN _bsz > {max_bucket_size} THEN raise_error(concat("
            f"{_sql_str(f'{op_name}: band bucket size ')}, cast(_bsz AS string), {_sql_str(msg)}"
            ")) IS NULL ELSE true END"
        )
    else:
        if observation is not None:
            banded = banded.observe(
                observation,
                F.expr(f"sum(cast(_bsz > {max_bucket_size} AS bigint)) AS rows_dropped"),
                F.expr("count(1) AS rows_total"),
            )
        banded = banded.where(f"_bsz <= {max_bucket_size}")
    return banded.drop("_bsz")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    hot_bucket: str = "error",
    observation=None,
) -> DataFrame:
    """LSH banding: slice each signature into ``bands`` bands of
    ``rows_per_band`` values, hash each band, self-join on
    (band_idx, band_hash) → candidate pairs (a < b, distinct).

    The self-join is a pure equi-join on a fixed-width key — shuffled hash /
    SMJ, AQE-skew-splittable; output is the candidate pair set to be
    verified with exact Jaccard.

    ``max_bucket_size``: defense-in-depth cap on band-bucket population.
    A bucket of m ids emits m(m−1)/2 pairs — quadratic output AQE cannot
    shrink — and buckets only grow hot when identical-signature clusters
    were not collapsed upstream (run ``exact_dedup`` first, as
    ``plans.training_set.clean_documents`` does). The bucket census is a
    window count partitioned on the join keys, so it rides the exchange the
    self-join already needs (one reused shuffle, no extra pass).
    ``hot_bucket="error"`` fails the job with the bucket size in the
    message; ``"skip"`` drops oversized buckets (bounded recall loss — the
    standard production trade, every surviving pair is still Jaccard-
    verified downstream). With ``"skip"``, pass an ``observation``
    (``pyspark.sql.Observation``) to account the dropped banded rows
    (``rows_dropped`` / ``rows_total``) — no silent caps.

    Observation caveat (applies to every capped operator here): observed
    metrics are read from the FINAL physical plan, so if the capped
    output is entirely empty, AQE's empty-relation propagation can elide
    the CollectMetrics subtree and ``Observation.get`` fails — treat
    that corner as "every row was capped". With AQE on and any surviving
    row the counts are exact (tests assert equality).
    """
    if hot_bucket not in ("error", "skip"):
        raise ValueError(f"unknown hot_bucket {hot_bucket!r}")
    banded = _band_rows(signatures, id_col, bands, rows_per_band)
    banded = _cap_band_buckets(
        banded, max_bucket_size, hot_bucket, observation, "minhash_lsh_candidates"
    )
    a = banded.selectExpr(f"{_q(id_col)} AS a", "band_idx", "band_hash")
    b = banded.selectExpr(f"{_q(id_col)} AS b", "band_idx", "band_hash")
    return a.join(b, ["band_idx", "band_hash"]).where("a < b").select("a", "b").distinct()


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sum of ±1 signs of the
    token-hash bit; sign of the sum → output bit.

    Physical shape: explode tokens → 64 ``sum`` aggregates in one hash
    aggregation (codegen-friendly, map-side partials), then assemble the
    64-bit word with shiftleft/bitwiseOR in a final projection.
    """
    exploded = df.select(
        F.col(id_col),
        F.explode(F.split(_normalize(text_col), " ")).alias("_t"),
    ).select(F.col(id_col), F.xxhash64("_t").alias("_h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{bit}")
        for bit in range(64)
    ]
    agg = exploded.groupBy(id_col).agg(*sums)
    sim = F.lit(0).cast("long")
    for bit in range(64):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_b{bit}") > 0, F.shiftleft(F.lit(1).cast("long"), bit)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    window: int = 4,
    hash_mode: str = "portable",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.'s rolling-hash
    selection, the MOSS scheme): hash every character ``k``-gram of the
    normalized text, slide a ``window`` over consecutive positions, keep
    each window's minimum hash; the DISTINCT selected minima are the
    document's fingerprint set → (id, fingerprint) rows.

    Relational formulation — one row per CHARACTER (``posexplode(split)``),
    grams rebuilt by ``lead``-concat over the per-doc window (identical
    strings to ``substring(t, pos, k)``), the sliding minimum as a window
    ``min`` over ``ROWS BETWEEN CURRENT ROW AND window-1 FOLLOWING``
    (suffix windows shrink; pinned, mirrored by the oracle). Exploding
    POSITIONS of the full text instead would carry the whole document on
    every one of its len rows — measured ~10× this formulation's cost.
    One shuffle on the doc id feeds all three window passes and the final
    distinct. Documents shorter than ``k`` chars (including empty)
    contribute their whole text as one gram so every document gets ≥1
    fingerprint.
    """
    t = _normalize(text_col)
    chars = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(t, "")).alias("_pos", "_c0"),
    ).withColumn("_pos", F.coalesce("_pos", F.lit(0)))  # empty doc → one row
    wo = Window.partitionBy(id_col).orderBy("_pos")
    wn = Window.partitionBy(id_col)
    staged = chars.select(
        F.col(id_col),
        "_pos",
        "_c0",
        *[F.lead("_c0", j).over(wo).alias(f"_c{j}") for j in range(1, k)],
        F.count(F.lit(1)).over(wn).alias("_nc"),
    )
    grams = staged.where(
        F.col("_pos") + 1 <= F.greatest(F.col("_nc") - F.lit(k - 1), F.lit(1))
    ).select(
        F.col(id_col),
        "_pos",
        _word_hash("concat_ws('', " + ", ".join(f"_c{j}" for j in range(k)) + ")", hash_mode).alias("_h"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.select(F.col(id_col), F.min("_h").over(w).alias("fingerprint"))
        .distinct()
    )


def winnow_fingerprints_kernel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    window: int = 4,
    hash_mode: str = "portable",
    repartition_to: int | None = None,
) -> DataFrame:
    """Winnowing fingerprints via a doc-local ``mapInPandas`` kernel — the
    scale formulation (fingerprinting has zero cross-row dependence, so no
    row should ever shuffle): the normalized text crosses Arrow once, the
    per-character work happens in numpy, and only the per-doc DISTINCT
    (id, fingerprint) rows come back. The relational formulation
    (``winnow_fingerprints``) shuffles one row per CHARACTER — 13.8 MB and
    the heaviest exchange of all headline queries at sf0.1, a dominant cost
    at 100 TB of text; this kernel's plan has NO exchange at all
    (tests assert the two agree value-for-value in portable mode).

    ``hash_mode="portable"``: md5-prefix gram hash, bit-identical to the
    relational portable mode and to the DuckDB oracle (hashlib per gram —
    cryptographic, so the per-gram digest dominates; still ~5× the
    relational plan's throughput because nothing shuffles).
    ``hash_mode="fast"``: vectorized uint64 polynomial rolling hash over
    code points — the production path, O(n) numpy per doc, no Python-level
    per-gram work. NOTE: fast-mode fingerprint VALUES differ from the
    relational fast mode (xxhash64 of the gram string); the selection
    positions and the winnowing guarantee are identical.

    Semantics pinned to ``winnow_fingerprints``: suffix windows shrink
    (every gram position starts a window); documents shorter than ``k``
    chars (including empty) contribute their whole text as one gram.
    Sliding-min is O(n·window) via a strided view — fine for MOSS-scale
    windows (4-16); swap in a monotonic-deque pass if window grows large.

    ``repartition_to``: opt-in round-robin repartition of the (id, text)
    projection before the kernel, for when the at-rest layout under-splits
    (the sf0.1 testdata is ONE parquet row group → one task no matter the
    core count). The shuffle carries each document's text exactly once
    (bytes ≈ corpus size — ~1.5 MB at sf0.1, vs the relational form's
    13.8 MB of per-character rows). At production scale the scan already
    yields enough splits; leave ``None`` for a zero-exchange plan.
    """
    import hashlib

    import pandas as pd

    if hash_mode not in ("portable", "fast"):
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    id_type = df.schema[id_col].dataType.simpleString()
    staged = df.select(F.col(id_col).alias("_id"), _normalize(text_col).alias("_t"))
    # skip when the input already has that many partitions (e.g. the
    # caller pre-spread the scan) — avoids a redundant second exchange
    if repartition_to and df.rdd.getNumPartitions() < repartition_to:
        staged = staged.repartition(repartition_to)

    B = np.uint64(1099511628211)  # FNV-1a prime as the polynomial base

    def _sliding_min(h: np.ndarray, w: int) -> np.ndarray:
        n = len(h)
        if n <= w:
            return np.minimum.accumulate(h[::-1])[::-1]
        full = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
        tail = np.minimum.accumulate(h[n - w + 1:][::-1])[::-1]
        return np.concatenate([full, tail])

    def kernel(batches):
        md5, from_bytes = hashlib.md5, int.from_bytes
        for b in batches:
            ids, fps = [], []
            for doc_id, t in zip(b["_id"], b["_t"]):
                t = t or ""
                if hash_mode == "portable":
                    # md5 hashes BYTES: encode once; for pure-ASCII text
                    # (the common case) byte offsets equal char offsets so
                    # grams slice the bytes directly — no per-gram encode
                    tb = t.encode()
                    if len(t) < k:
                        grams = [tb]
                    elif len(tb) == len(t):
                        grams = [tb[i:i + k] for i in range(len(tb) - k + 1)]
                    else:
                        grams = [t[i:i + k].encode() for i in range(len(t) - k + 1)]
                    h = np.fromiter(
                        (from_bytes(md5(g).digest()[:4], "big") for g in grams),
                        dtype=np.int64,
                        count=len(grams),
                    )
                else:
                    cps = np.fromiter(map(ord, t), dtype=np.uint64, count=len(t))
                    if len(t) < k:
                        pw = B ** np.arange(len(t) - 1, -1, -1, dtype=np.uint64)
                        h = np.array([(cps * pw).sum()], dtype=np.uint64).view(np.int64)
                    else:
                        sw = np.lib.stride_tricks.sliding_window_view(cps, k)
                        pw = B ** np.arange(k - 1, -1, -1, dtype=np.uint64)
                        h = (sw * pw).sum(axis=1).view(np.int64)
                sel = np.unique(_sliding_min(h, window))
                ids.extend([doc_id] * len(sel))
                fps.append(sel)
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "fingerprint": np.concatenate(fps) if fps else np.array([], dtype=np.int64),
                }
            )

    return staged.mapInPandas(kernel, schema=f"{id_col} {id_type}, fingerprint long")


def simhash_portable32(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash with SQL-reproducible hashing, emitted as two 32-bit halves
    (``simhash_hi``, ``simhash_lo`` — each a nonneg long): bit b<32 comes
    from bit b of the portable (md5-prefix) hash of ``'0|'||token``, bit
    b≥32 from bit b−32 of that of ``'1|'||token``. Halves avoid 64-bit assembly,
    which differs across engines at the sign bit. Same physical shape as
    ``simhash64``: one explode + one 64-sum hash aggregation."""
    exploded = df.select(
        F.col(id_col),
        F.explode(F.split(_normalize(text_col), " ")).alias("_t"),
    ).select(
        F.col(id_col),
        _word_hash("concat('0|', _t)", "portable").alias("_h0"),
        _word_hash("concat('1|', _t)", "portable").alias("_h1"),
    )
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("_h0" if bit < 32 else "_h1"), bit % 32).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{bit}")
        for bit in range(64)
    ]
    agg = exploded.groupBy(id_col).agg(*sums)

    def assemble(bits: range):
        s = F.lit(0).cast("long")
        for bit in bits:
            s = s + F.when(F.col(f"_b{bit}") > 0, F.lit(1 << (bit % 32)).cast("long")).otherwise(F.lit(0).cast("long"))
        return s

    return agg.select(
        F.col(id_col),
        assemble(range(32, 64)).alias("simhash_hi"),
        assemble(range(0, 32)).alias("simhash_lo"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with EXACT n-gram Jaccard similarity
    (|∩| / |∪| of the distinct shingle STRING sets); only candidates are
    scored, never the full cross product.

    Physical shape (all codegen — the ``transform``-built shingle arrays
    were interpreted and measured ~1 ms/doc):

    0. ``candidate_pairs`` is read three times (the semi-join prune and
       the two array attaches), so it is ``localCheckpoint``-ed once at
       entry: a caller may hand over the unmaterialized signature → LSH
       plan, which would otherwise run once per reference. Measured on
       the perfbench ``corpus_dedup`` inputs (seed 22, ``local[4]``): the
       near-pairs step fell 5.5–10.0 → 2.7–4.2 s; its write's final plan
       went from 14 query stages (5 reused exchanges) to 6, plus the
       6-stage checkpoint job. Candidate columns other than ``a``/``b``
       ride through to the output after ``jaccard`` (the incremental path
       carries ``_new_b``), so a caller needs no second materialization
       of the pairs to join them back;
    1. shingle ROWS per candidate document (semi-join prune first): the
       token array zipped with its own left-shifted copies
       (``slice``+``concat`` — plain collection exprs, codegen) and
       exploded ONCE, so row i carries (w_i … w_{i+n−1}) with NO per-doc
       window — no token-row exchange+sort, no giant-document sort
       straggler (the quality_lm shifted-array-zip lesson); gram identity
       is the 64-bit ``xxhash64`` of the word tuple — tokens cannot
       contain the split character, so (w0…wn−1) ↔ gram text is a
       bijection, and the multi-arg hash skips nulls exactly like the
       ``concat_ws`` re-assembly does for short-doc partial grams. The
       hash (not the gram string) is what deduplicates, joins, and
       crosses every exchange (guide §2.3 "shuffle keys instead of
       payloads"). A 64-bit collision would merge two grams (P ≈ n²/2⁶⁵
       per doc — zero in practice; the DuckDB value oracle over the full
       pipeline would catch one);
    2. each candidate document's DISTINCT gram-hash SET becomes one array
       row (``collect_set`` — dedups in the aggregation, so there is no
       separate (id, gram) dropDuplicates exchange; the aggregation itself
       is exchange-free over the doc-spread scan, whose hash(doc_id)
       partitioning already clusters it);
    3. |∩| per pair = ``size(array_intersect(grams_a, grams_b))`` after
       attaching the two arrays by doc-id joins (broadcastable whenever
       the candidate-doc gram table is small; otherwise two fixed-width
       equi joins). |∪| = n_a + n_b − |∩| with n = ``size`` of the same
       arrays. The earlier row-form (explode grams, join candidate pairs
       to a-grams then b-grams on the gram key, count) shuffled one row
       per (pair, shared gram) — measured ~35 M rows / 8.4 s for 680k
       candidates at sf1.0 vs ~1 s for this array form, which evaluates a
       codegen ``array_intersect`` per pair. Cost model: the two doc-id
       joins attach a ~n_grams·8-byte array to every candidate PAIR, so
       when the joins shuffle, the bytes moved scale with each document's
       pair degree (a hub document in k pairs ships its array k times), not
       with the candidate-doc count. Zero-overlap pairs are filtered
       explicitly (the old inner gram join never produced them), so
       output is identical for ANY threshold. Trade documented: a
       pathologically long document makes one wide array row (same
       whole-doc locality class as the winnow kernel); the row form
       handled that by splitting rows but paid 35× the row count.
    """
    # the pairs feed the semi-join prune and both array attaches: truncate
    # them here, once, or each reference re-runs the whole upstream plan
    # (signatures + LSH when the caller hands over the unmaterialized plan)
    cands = candidate_pairs.localCheckpoint()
    carry = [_q(c) for c in cands.columns if c not in ("a", "b")]
    ident = _q(id_col)
    # no .distinct(): the left_semi join below never multiplies left rows
    # for duplicate right keys, so the extra exchange+agg bought nothing
    cand_ids = cands.selectExpr(f"a AS {ident}").unionByName(cands.selectExpr(f"b AS {ident}"))
    toks = f"split({_normalize_sql(_q(text_col))}, ' ')"
    # the shifted copies are named in their own projection so arrays_zip
    # keeps the field names _w0.._w{n-1}
    shifts = [f"{toks} AS _w0"] + [
        f"concat(slice({toks}, {j + 1}, greatest(size({toks}) - {j}, 0)), "
        f"array_repeat(CAST(NULL AS string), {j})) AS _w{j}"
        for j in range(1, shingle_n)
    ]
    ws = ", ".join(f"_w{j}" for j in range(shingle_n))
    gram_sets = (
        df.join(cand_ids, id_col, "left_semi")
        .selectExpr(ident, *shifts)
        .selectExpr(ident, f"posexplode(arrays_zip({ws})) AS (_pos, _s)")
        .where(f"_s._w{shingle_n - 1} IS NOT NULL OR _pos = 0")
        .selectExpr(ident, "xxhash64(" + ", ".join(f"_s._w{j}" for j in range(shingle_n)) + ") AS _g")
        .groupBy(id_col)
        .agg(F.expr("collect_set(_g) AS _gs"))
    )
    return (
        cands.join(gram_sets.selectExpr(f"{ident} AS a", "_gs AS _ga"), "a")
        .join(gram_sets.selectExpr(f"{ident} AS b", "_gs AS _gb"), "b")
        .selectExpr(
            "a", "b", *carry, "size(array_intersect(_ga, _gb)) AS _inter",
            "size(_ga) AS _na", "size(_gb) AS _nb",
        )
        # the old gram-row inner join emitted nothing for zero-overlap
        # pairs; filter them so output matches for any threshold
        .where("_inter > 0")
        .selectExpr("a", "b", "_inter / (_na + _nb - _inter) AS jaccard", *carry)
        .where(f"jaccard >= {float(threshold)!r}D")
    )


def _uf_mapping_kernel():
    """mapInPandas factory: exact connected components of THIS PARTITION's
    edge rows (s, d) via union-find with path compression and union-by-min
    (the smaller root always wins, so every tree root is its component's
    min id — the repo-wide representative rule). Emits one (node, root)
    row per distinct node seen. Duplicate and self edges are tolerated, so
    callers skip the ``distinct()`` shuffle entirely."""
    import pandas as pd

    def kernel(batches):
        parent: dict = {}

        def find(x):
            r = x
            while True:
                p = parent.get(r, r)
                if p == r:
                    break
                r = p
            while x != r:
                parent[x], x = r, parent.get(x, x)
            return r

        for b in batches:
            for s, d in zip(b["s"].tolist(), b["d"].tolist()):
                if s == d:
                    # self edges carry no connectivity; dropping them (not
                    # registering the node) means a self-loop-only node
                    # gets no row
                    continue
                rs, rd = find(s), find(d)
                if rs == rd:
                    continue
                if rs < rd:
                    parent[rd] = rs
                    parent.setdefault(rs, rs)
                else:
                    parent[rs] = rd
                    parent.setdefault(rd, rd)
        nodes = list(parent)
        if nodes:
            yield pd.DataFrame({"node": nodes, "root": [find(x) for x in nodes]})

    return kernel


def partition_components(
    dup_pairs: DataFrame,
    single_partition_max_edges: int = 5_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs (columns ``a``, ``b``) by
    TWO-PHASE PARTITION CONTRACTION → (node, label), label = the smallest
    id reachable from ``node``; only nodes of a non-self edge get a row:

    1. one ``mapInPandas`` union-find pass over the raw pair rows (no
       symmetric union, no distinct, no per-round join/checkpoint/digest
       jobs) collapses every partition's edges into (node, local-min-root)
       rows;
    2. a node seen by several partitions links all its local roots — those
       links form the CONTRACTED graph, which is tiny for near-dup graphs
       (dense almost-cliques collapse to a handful of roots per
       partition); it is solved exactly by one single-partition union-find
       pass (coarsened by extra distributed passes first if it is ever
       larger than ``single_partition_max_edges``);
    3. labels compose back: label(node) = contracted-label(min local
       root), coalescing to the root itself for components that never
       crossed a partition.

    Exactness does not depend on the input partitioning (components are a
    set property), and the pass count is bounded on any graph (usually 2),
    with no diameter budget; the min-label propagation it replaced cost
    2·|E|·rounds join rows plus a checkpoint+digest job pair per round —
    measured 9 s vs ~1 s on the sf1.0 embedding pair graph."""
    spark = dup_pairs.sparkSession
    id_type = dup_pairs.schema["a"].dataType.simpleString()
    kernel = _uf_mapping_kernel()
    schema = f"node {id_type}, root {id_type}"
    cur = dup_pairs.selectExpr("a AS s", "b AS d")
    maps = []
    parts = spark.sparkContext.defaultParallelism
    for _ in range(64):  # far above any real coarsening depth (log_8 E)
        mr = (
            cur.mapInPandas(kernel, schema=schema)
            .groupBy("node")
            .agg(F.expr("min(root) AS root"), F.expr("collect_set(root) AS _rs"))
            .localCheckpoint(eager=True)
        )
        maps.append(mr.select("node", "root"))
        contracted = (
            mr.where("size(_rs) > 1")
            .selectExpr("array_min(_rs) AS s", "explode(_rs) AS d")
            .where("s != d")
        )
        n_links = contracted.count()
        if n_links == 0:
            break
        parts = 1 if n_links <= single_partition_max_edges else max(1, parts // 8)
        cur = contracted.repartition(parts)
    else:
        raise RuntimeError("partition_components did not converge (bug)")
    lab = maps[-1].selectExpr("node", "root AS label")
    for mr_prev in reversed(maps[:-1]):
        lab = mr_prev.join(lab.selectExpr("node AS root", "label"), "root", "left").selectExpr(
            "node", "coalesce(label, root) AS label"
        )
    return lab


def near_dedup_representatives(
    df: DataFrame,
    dup_pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Pick survivors given near-dup pairs: each connected component of the
    pair graph keeps exactly one member (transitive closure — a chain
    A≈B≈C keeps one doc even though (A,C) is not an edge). The reference
    analog is the ``insert ignore`` key-dedup closure
    (``/root/reference/pyPPI/sqls/createInterface.sql:7``).

    By default the survivor is the component's min-id member (stable,
    content-blind).  ``score_col`` (a column of ``df``) switches to
    QUALITY-AWARE selection — keep the member with the highest score,
    ties broken by min id — the rule real pipelines use (RefinedWeb keeps
    the longest member; a quality-classifier pipeline keeps the
    best-scored one).  NULL scores lose to any non-NULL score; a
    component whose every member is NULL-scored keeps its min id.  Cost:
    two label-keyed hash aggs over component membership rows (max score,
    then min id among the maximal), sharing one exchange — component
    membership is tiny relative to the corpus (only docs in ≥1 pair).

    Components come from ``partition_components``: exact on any graph in
    a bounded number of passes."""
    comp = partition_components(dup_pairs)
    ident = _q(id_col)
    if score_col is None:
        losers = comp.where("node != label").selectExpr(f"node AS {ident}")
    else:
        m = comp.join(df.selectExpr(f"{ident} AS node", f"{_q(score_col)} AS _s"), "node")
        best = m.groupBy("label").agg(F.expr("max(_s) AS _best"))
        winners = (
            m.join(best, "label")
            .where("_s <=> _best")
            .groupBy("label")
            .agg(F.expr("min(node) AS _winner"))
        )
        losers = m.join(winners, "label").where("node != _winner").selectExpr(f"node AS {ident}")
    return df.join(losers, id_col, "left_anti")


def _simhash_scheme(max_hamming: int, max_tables: int = 64) -> tuple[int, int]:
    """Pick (n_blocks, key_blocks) for the Manku block-combination join:
    carve 64 bits into ``n_blocks`` equal blocks and key each probe table
    on a ``key_blocks``-subset of them. Pigeonhole exactness needs
    ``key_blocks <= n_blocks - max_hamming`` (a pair within the ball
    differs in <= max_hamming blocks, so some key_blocks-subset of blocks
    matches exactly in at least one of the C(n_blocks, key_blocks)
    tables). Among feasible (n, t) with C(n, t) <= ``max_tables``, choose
    the WIDEST key ``t * 64/n`` (fewest random collisions — candidate
    output on non-duplicate hashes ~ C(n,t) * N^2 / 2^(t*64/n)), breaking
    ties on fewer tables. max_hamming=3 -> (8, 5): 56 tables x 40-bit
    keys; max_hamming=6 -> (8, 2): 28 tables x 16-bit keys; the
    single-block split (t=1) is the degenerate member of the family."""
    import math

    if not 1 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [1, 63], got {max_hamming}")
    best = None  # (width, -tables, n, t)
    for n in (2, 4, 8, 16, 32, 64):
        for t in range(1, n - max_hamming + 1):
            tables = math.comb(n, t)
            if tables > max_tables:
                continue  # C(n, t) peaks at n/2 then falls — e.g. (64, 63)
                # is feasible (64 tables, 63-bit key) though (64, 2) is not
            cand = (t * (64 // n), -tables, n, t)
            if best is None or cand > best:
                best = cand
    if best is None:
        raise ValueError(
            f"no block scheme with <= {max_tables} tables covers "
            f"max_hamming={max_hamming}; raise max_tables"
        )
    return best[2], best[3]


def simhash_pairs_from_hashes(
    sim: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    key_blocks: int | None = None,
    max_tables: int = 64,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Hamming-ball self-join over precomputed 64-bit SimHashes (``sim``
    columns: id, ``_hi``, ``_lo`` — two nonneg 32-bit halves in longs) →
    (a, b, hamming) for all pairs within ``max_hamming`` bits.

    Candidate generation is the multi-table block-combination scheme of
    Manku, Jain & Das Sarma (WWW'07, "Detecting near-duplicates for web
    crawling"): with ``n_blocks`` equal bit-blocks and table keys made of
    ``key_blocks``-subsets, any pair in the ball matches at least one
    table key EXACTLY (pigeonhole — recall 1.0, unlike MinHash banding),
    and the key is ``key_blocks * 64/n_blocks`` bits wide, so random
    (non-duplicate) collisions fall as 2^-width. The minimal single-block
    split (key_blocks=1) keys on 64/n_blocks bits — at max_hamming=3 that
    is 16 bits, making the candidate join output ~ N^2/2^16 on random
    hashes, quadratic at web corpus size; the default scheme
    (``_simhash_scheme``) picks e.g. 56 tables x 40-bit keys instead,
    trading a bounded row explode (C(n,t) rows/doc) for ~2^24x fewer
    random collisions. Everything stays JVM codegen: posexplode of the
    table keys, one fixed-width equi self-join, bit_count verify. The
    reference's analog of this candidate pruning is its kd-tree
    neighbor search (``/root/reference/pyPPI/kdtree.py:28-36``) — the
    same idea of touching only key-colliding candidates instead of all
    pairs, re-expressed as a relational multi-table equi-join.

    ``max_bucket_size`` (skip semantics) caps a (table, key) bucket's
    population; unlike the LSH/winnow caps this CAN drop true pairs (hot
    buckets arise from uniform mass, not only boilerplate) — pass an
    ``observation`` (``pyspark.sql.Observation``) to account the dropped
    rows (``rows_dropped`` / ``rows_total`` metrics) instead of losing
    recall silently; prefer running after ``exact_dedup`` so byte-dup
    clusters never reach the join."""
    cands = _simhash_candidates(
        sim,
        id_col=id_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        key_blocks=key_blocks,
        max_tables=max_tables,
        max_bucket_size=max_bucket_size,
        observation=observation,
    )
    ham = (
        F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    )
    return (
        cands.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def _simhash_banded(
    sim: DataFrame,
    id_col: str,
    max_hamming: int,
    n_blocks: int | None,
    key_blocks: int | None,
    max_tables: int,
    max_bucket_size: int | None,
    observation=None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared Manku-table explode: validate the block scheme, emit one row
    per (doc, probe table) keyed on the concatenated block values, apply
    the optional hot-bucket cap. ``carry_cols`` ride along (e.g. the
    ``_new`` flag of the incremental join). Used by both the self-join and
    the incremental candidate generators so the key construction cannot
    drift between them."""
    if n_blocks is None and key_blocks is None:
        n_blocks, key_blocks = _simhash_scheme(max_hamming, max_tables)
    elif n_blocks is None or key_blocks is None:
        raise ValueError("pass both n_blocks and key_blocks, or neither")
    if 64 % n_blocks != 0:
        raise ValueError(f"n_blocks must divide 64, got {n_blocks}")
    if not 1 <= key_blocks <= n_blocks - max_hamming:
        raise ValueError(
            f"key_blocks must be in [1, n_blocks - max_hamming] = "
            f"[1, {n_blocks - max_hamming}] for exact recall, got {key_blocks}"
        )
    import itertools

    width = 64 // n_blocks
    bmask = F.lit((1 << width) - 1).cast("long")

    def block(i: int):
        start = i * width
        src = F.col("_lo") if start < 32 else F.col("_hi")
        return F.shiftrightunsigned(src, start % 32).bitwiseAND(bmask)

    def table_key(subset: tuple[int, ...]):
        # concatenated block values; key_blocks*width <= 63 whenever
        # max_hamming >= 1, so the packed key stays a nonneg long
        key = block(subset[0])
        for i in subset[1:]:
            key = F.shiftleft(key, width).bitwiseOR(block(i))
        return key

    subsets = list(itertools.combinations(range(n_blocks), key_blocks))
    banded = sim.select(
        F.col(id_col),
        "_hi",
        "_lo",
        *carry_cols,
        F.posexplode(F.array(*[table_key(s) for s in subsets])).alias(
            "_tbl_idx", "_key"
        ),
    )
    if max_bucket_size is None and observation is not None:
        raise ValueError(
            "simhash candidates: observation accounting requires "
            "max_bucket_size to be set (no cap, nothing to account; the "
            "Observation would never be attached to a DataFrame)"
        )
    if max_bucket_size is not None:
        bsz = F.count(F.lit(1)).over(Window.partitionBy("_tbl_idx", "_key"))
        banded = banded.withColumn("_bsz", bsz)
        if observation is not None:
            banded = banded.observe(
                observation,
                F.sum(
                    (F.col("_bsz") > max_bucket_size).cast("long")
                ).alias("rows_dropped"),
                F.count(F.lit(1)).alias("rows_total"),
            )
        banded = banded.where(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    return banded


def _simhash_candidates(
    sim: DataFrame,
    id_col: str,
    max_hamming: int,
    n_blocks: int | None,
    key_blocks: int | None,
    max_tables: int,
    max_bucket_size: int | None,
    observation=None,
) -> DataFrame:
    """The pre-verify candidate join of ``simhash_pairs_from_hashes``:
    (a, b, _hi_a, _lo_a, _hi_b, _lo_b) rows, one per (pair, matching
    table) — exposed separately so tests can measure candidate volume
    (the quantity the block-combination scheme exists to bound)."""
    banded = _simhash_banded(
        sim, id_col, max_hamming, n_blocks, key_blocks, max_tables,
        max_bucket_size, observation,
    )
    a = banded.select(
        F.col(id_col).alias("a"), F.col("_hi").alias("_hi_a"),
        F.col("_lo").alias("_lo_a"), "_tbl_idx", "_key",
    )
    b = banded.select(
        F.col(id_col).alias("b"), F.col("_hi").alias("_hi_b"),
        F.col("_lo").alias("_lo_b"), "_tbl_idx", "_key",
    )
    return (
        a.join(b, ["_tbl_idx", "_key"], "inner")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "_hi_a", "_lo_a", "_hi_b", "_lo_b")
    )


def _simhash_halves(
    df: DataFrame, text_col: str, id_col: str, hash_mode: str
) -> DataFrame:
    """(id, _hi, _lo): the document's 64-bit SimHash as two nonneg 32-bit
    halves in longs — the internal working form shared by the self-join,
    the incremental join, and the persistable ``simhash_keys`` table."""
    if hash_mode == "fast":
        sim = simhash64(df, text_col=text_col, id_col=id_col)
        mask32 = F.lit((1 << 32) - 1).cast("long")
        return sim.select(
            F.col(id_col),
            F.shiftrightunsigned("simhash", 32).bitwiseAND(mask32).alias("_hi"),
            F.col("simhash").bitwiseAND(mask32).alias("_lo"),
        )
    elif hash_mode == "portable":
        return simhash_portable32(df, text_col=text_col, id_col=id_col).select(
            F.col(id_col), F.col("simhash_hi").alias("_hi"), F.col("simhash_lo").alias("_lo")
        )
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def simhash_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "fast",
) -> DataFrame:
    """The PERSISTABLE SimHash key table ``(id, simhash_hi, simhash_lo)``
    of a corpus — 8 bytes of hash per document, what an incremental
    pipeline materializes so later increments never re-read frozen corpus
    text at all (``simhash_near_dup_incremental(old_keys=...)`` consumes
    it; unlike MinHash, the SimHash verify step is pure bit arithmetic on
    the keys, so with this table the old corpus TEXT is never touched).
    ``hash_mode`` must match between writer and reader —
    ``jobs/dedup_corpus.py`` records it in the ``band_params`` sidecar."""
    return _simhash_halves(df, text_col, id_col, hash_mode).select(
        F.col(id_col),
        F.col("_hi").alias("simhash_hi"),
        F.col("_lo").alias("simhash_lo"),
    )


def simhash_near_dup_incremental(
    new_docs: DataFrame,
    old_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_mode: str = "fast",
    n_blocks: int | None = None,
    key_blocks: int | None = None,
    max_tables: int = 64,
    max_bucket_size: int | None = None,
    observation=None,
    old_keys: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dedup of an increment against a frozen corpus —
    the cheapest dedup family to run incrementally, because the verify
    step (``bit_count`` of the XOR) needs only the 8-byte hashes:
    with ``old_keys`` (a persisted ``simhash_keys`` table) the frozen
    corpus's TEXT is never read, giving a truly O(increment +
    |old keys|·C(n,t) band rows) run — no re-shingle, no re-hash, no
    Jaccard join back to old text. Pass ``old_docs`` instead to derive
    the keys from text (O(corpus) per run — only for corpora without a
    persisted key table).

    Semantics mirror ``near_dedup_incremental``: candidates are
    (new × old) ∪ (new × new) Manku block-combination collisions —
    old × old pairs are never generated; a new doc within ``max_hamming``
    bits of ANY old doc drops outright; new-only pairs get transitive
    representatives. Returns the surviving new documents (all columns).
    Run ``exact_dedup_incremental`` first. ``hash_mode`` and the block
    scheme must match the run that wrote ``old_keys``."""
    if (old_keys is None) == (old_docs is None):
        raise ValueError("pass exactly one of old_docs or old_keys")
    new_sim = _simhash_halves(new_docs, text_col, id_col, hash_mode).withColumn(
        "_new", F.lit(True)
    )
    if old_keys is not None:
        old_sim = old_keys.select(
            F.col(id_col),
            F.col("simhash_hi").alias("_hi"),
            F.col("simhash_lo").alias("_lo"),
        )
    else:
        old_sim = _simhash_halves(old_docs, text_col, id_col, hash_mode)
    sim = new_sim.unionByName(old_sim.withColumn("_new", F.lit(False)))
    banded = _simhash_banded(
        sim, id_col, max_hamming, n_blocks, key_blocks, max_tables,
        max_bucket_size, observation, carry_cols=("_new",),
    )
    left = banded.where("_new").select(
        F.col(id_col).alias("a"), F.col("_hi").alias("_hi_a"),
        F.col("_lo").alias("_lo_a"), "_tbl_idx", "_key",
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("_hi").alias("_hi_b"),
        F.col("_lo").alias("_lo_b"), F.col("_new").alias("_new_b"),
        "_tbl_idx", "_key",
    )
    ham = (
        F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
        + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    )
    # orientation: new-old pairs keep a = new; new-new pairs canonicalize
    # a < b (each undirected pair verified once, like the MinHash path)
    pairs = (
        left.join(right, ["_tbl_idx", "_key"], "inner")
        .where(F.col("a") != F.col("b"))
        .where(~F.col("_new_b") | (F.col("a") < F.col("b")))
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "_new_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    dup_of_old = pairs.where(~F.col("_new_b")).select(F.col("a").alias(id_col)).distinct()
    fresh = new_docs.join(dup_of_old, id_col, "left_anti")
    new_pairs = pairs.where(F.col("_new_b")).select("a", "b").distinct()
    return near_dedup_representatives(fresh, new_pairs, id_col=id_col)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_mode: str = "fast",
    max_bucket_size: int | None = None,
    n_blocks: int | None = None,
    key_blocks: int | None = None,
    max_tables: int = 64,
    observation=None,
) -> DataFrame:
    """SimHash Hamming-ball near-dup join (the Google web-dedup scheme,
    Manku et al. WWW'07): pairs of documents whose 64-bit SimHashes differ
    in at most ``max_hamming`` bits → (a, b, hamming). Hashes the text
    (``simhash64`` / ``simhash_portable32``) and delegates to
    ``simhash_pairs_from_hashes`` — see there for the multi-table
    block-combination candidate scheme and its scale analysis.

    ``hash_mode="portable"`` uses the md5-based ``simhash_portable32``
    halves so the DuckDB oracle reproduces the values bit-for-bit; "fast"
    uses xxhash64 (production). Scale note: run AFTER ``exact_dedup`` —
    byte-identical cluster members share every table key."""
    sim = _simhash_halves(df, text_col, id_col, hash_mode)
    return simhash_pairs_from_hashes(
        sim,
        id_col=id_col,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
        key_blocks=key_blocks,
        max_tables=max_tables,
        max_bucket_size=max_bucket_size,
        observation=observation,
    )


def winnow_candidate_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_bucket_size: int | None = None,
    observation=None,
    min_overlap_frac: float | None = None,
) -> DataFrame:
    """The MOSS match step over winnowing fingerprints: pairs of documents
    sharing ≥ ``min_shared`` selected fingerprints → (a, b, n_shared).

    ``min_overlap_frac`` adds the MOSS-style RELATIVE criterion:
    ``n_shared >= frac * min(|fp_a|, |fp_b|)`` with per-doc totals counted
    BEFORE the hot-fingerprint cap (so capped boilerplate still inflates
    the denominator, keeping the score conservative). An absolute
    ``min_shared`` alone conflates shared boilerplate with true overlap —
    on the test corpus it links 40k pairs where the 0.5-fraction rule
    keeps the 25 genuine near-dup pairs. The totals join touches only the
    (already HAVING-pruned) pair rows plus one slim per-doc count table.
    Compose with ``winnow_fingerprints[_kernel]`` for overlap-based
    near-dup/plagiarism candidates — winnowing guarantees any shared
    substring of length ≥ k + window − 1 yields ≥1 shared fingerprint, so
    candidate recall over long shared passages is structural, not
    probabilistic.

    Physical shape: pure equi self-join on the fingerprint value (fixed-
    width key) + one count aggregation — the same family as LSH banding.
    Same hot-bucket caveat: a fingerprint shared by m docs emits m(m−1)/2
    join rows; run after ``exact_dedup`` and/or cap ubiquitous
    (boilerplate) fingerprints with ``max_bucket_size`` (skip semantics —
    dropping a too-common fingerprint only removes boilerplate evidence;
    ``n_shared`` then undercounts by design, never overcounts). Pass an
    ``observation`` (``pyspark.sql.Observation``) to account the capped
    rows (``rows_dropped`` / ``rows_total``) instead of dropping them
    silently — a production run should report its recall trade."""
    fp = fingerprints.select(F.col(id_col), F.col("fingerprint"))
    if max_bucket_size is None and observation is not None:
        raise ValueError(
            "winnow_candidate_pairs: observation accounting requires "
            "max_bucket_size to be set (no cap, nothing to account; the "
            "Observation would never be attached to a DataFrame)"
        )
    if max_bucket_size is not None:
        bsz = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
        fp = fp.withColumn("_bsz", bsz)
        if observation is not None:
            fp = fp.observe(
                observation,
                F.sum((F.col("_bsz") > max_bucket_size).cast("long")).alias("rows_dropped"),
                F.count(F.lit(1)).alias("rows_total"),
            )
        fp = fp.where(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    a = fp.select(F.col(id_col).alias("a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    if min_overlap_frac is not None:
        counts = fingerprints.groupBy(F.col(id_col)).agg(
            F.count(F.lit(1)).alias("_nfp")
        )
        pairs = (
            pairs.join(
                counts.select(F.col(id_col).alias("a"), F.col("_nfp").alias("_na")), "a"
            )
            .join(
                counts.select(F.col(id_col).alias("b"), F.col("_nfp").alias("_nb")), "b"
            )
            .where(
                F.col("n_shared")
                >= F.lit(min_overlap_frac) * F.least("_na", "_nb")
            )
            .select("a", "b", "n_shared")
        )
    return pairs


def winnow_candidate_pairs_incremental(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_bucket_size: int | None = None,
    observation=None,
    min_overlap_frac: float | None = None,
) -> DataFrame:
    """The MOSS match step restricted to an increment: ``fingerprints``
    carries a boolean ``_new`` column; pairs are (new × old) ∪ (new × new)
    fingerprint collisions — old × old pairs are never generated (the
    frozen corpus was already deduped). Output: (a, b, n_shared, _new_b)
    with a always a new doc; new-new pairs canonicalized a < b.

    Same thresholds and hot-fingerprint cap as ``winnow_candidate_pairs``
    (per-doc totals for the fractional rule counted PRE-cap over the full
    union table). Like the SimHash family — and unlike MinHash — the
    verify needs NO document text: overlap is counted on the fingerprints
    themselves, so with a persisted old-fingerprint table the frozen
    corpus text is never read at all."""
    fp = fingerprints.select(F.col(id_col), F.col("fingerprint"), F.col("_new"))
    if max_bucket_size is None and observation is not None:
        raise ValueError(
            "winnow_candidate_pairs_incremental: observation accounting "
            "requires max_bucket_size to be set (no cap, nothing to account; "
            "the Observation would never be attached to a DataFrame)"
        )
    if max_bucket_size is not None:
        bsz = F.count(F.lit(1)).over(Window.partitionBy("fingerprint"))
        fp = fp.withColumn("_bsz", bsz)
        if observation is not None:
            fp = fp.observe(
                observation,
                F.sum((F.col("_bsz") > max_bucket_size).cast("long")).alias("rows_dropped"),
                F.count(F.lit(1)).alias("rows_total"),
            )
        fp = fp.where(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    a = fp.where("_new").select(F.col(id_col).alias("a"), "fingerprint")
    b = fp.select(
        F.col(id_col).alias("b"), F.col("_new").alias("_new_b"), "fingerprint"
    )
    pairs = (
        a.join(b, "fingerprint")
        .where(F.col("a") != F.col("b"))
        .where(~F.col("_new_b") | (F.col("a") < F.col("b")))
        .groupBy("a", "b", "_new_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    if min_overlap_frac is not None:
        counts = fingerprints.groupBy(F.col(id_col)).agg(
            F.count(F.lit(1)).alias("_nfp")
        )
        pairs = (
            pairs.join(
                counts.select(F.col(id_col).alias("a"), F.col("_nfp").alias("_na")), "a"
            )
            .join(
                counts.select(F.col(id_col).alias("b"), F.col("_nfp").alias("_nb")), "b"
            )
            .where(
                F.col("n_shared")
                >= F.lit(min_overlap_frac) * F.least("_na", "_nb")
            )
            .select("a", "b", "n_shared", "_new_b")
        )
    return pairs.select("a", "b", "n_shared", "_new_b")


# ---------------------------------------------------------- incremental

def content_keys(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The compact content-key table an incremental pipeline carries
    between runs: DISTINCT (xxhash64(normalized text), length) — the same
    composite key ``exact_dedup`` groups on (hash alone risks birthday
    collisions at billions of docs). ~16 bytes/doc at rest; union each
    increment's keys back in for the next run."""
    norm = _normalize_sql(_q(text_col))
    return df.selectExpr(f"xxhash64({norm}) AS _k", f"length({norm}) AS _kl").distinct()


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen_keys: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact dedup of an increment against a frozen corpus: collapse
    duplicates WITHIN the increment (``exact_dedup``), then anti-join its
    keys against ``seen_keys`` (``content_keys`` of everything kept so
    far). The anti-join is a pure equi-join on the 16-byte composite key
    — the increment shuffles once, the history table never rewrites, and
    nothing ever re-reads the old corpus text. Returns the surviving new
    documents (all columns)."""
    uniq = exact_dedup(new_docs, text_col=text_col, id_col=id_col, keep=keep)
    norm = _normalize_sql(_q(text_col))
    keyed = uniq.selectExpr("*", f"xxhash64({norm}) AS _k", f"length({norm}) AS _kl")
    return keyed.join(seen_keys, ["_k", "_kl"], "left_anti").drop("_k", "_kl")


def near_dedup_incremental(
    new_docs: DataFrame,
    old_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    bands: int = 32,
    rows_per_band: int = 2,
    threshold: float = 0.8,
    seed: int = 42,
    hash_mode: str = "fast",
    max_bucket_size: int | None = None,
    hot_bucket: str = "error",
    observation=None,
    old_bands: DataFrame | None = None,
    truncate_lineage: bool = True,
) -> DataFrame:
    """MinHash near-dedup of an increment against a frozen corpus:
    candidates are (new × old) ∪ (new × new) band collisions — old × old
    pairs are never generated (the frozen corpus was already deduped;
    re-pairing it is the quadratic cost this function exists to avoid).
    Survivors are new docs that are neither near-dups of the old corpus
    nor non-representative within their new-only component.

    ``old_bands``: the PERSISTED ``(id, band_idx, band_hash)`` table of
    the frozen corpus (``minhash_bands`` output materialized by the
    previous run). With it, the per-run cost is truly O(increment): the
    old corpus is never re-shingled or re-hashed, and ``old_docs`` text
    is touched exactly once — to Jaccard-verify the (semi-join-pruned)
    candidate set. Without it, the old side's signatures are re-derived
    from text every run — O(corpus) I/O + compute per increment, the
    cost curve a frozen 100 TB corpus cannot pay daily. The band table
    MUST have been built with the same (num_hashes, shingle_n, bands,
    rows_per_band, seed, hash_mode); ``jobs/dedup_corpus.py`` persists
    and validates these as a ``band_params`` sidecar.

    Physical shape: band the increment, union with the old band rows,
    join new-banded against (old ∪ new)-banded on (band_idx, band_hash)
    — one equi-join whose left side is increment-sized; Jaccard-verify
    candidate pairs against the union's texts; drop new docs paired with
    ANY old doc; transitive representatives over the remaining new-only
    pairs. At a steady-state corpus the increment is ~1% of the total,
    so the per-run cost is ~1% of a full re-dedup. Run
    ``exact_dedup_incremental`` first (byte-dups of old docs never reach
    the band join)."""
    new_sigs = minhash_signatures(
        new_docs, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle_n=shingle_n, seed=seed, hash_mode=hash_mode,
    )
    nb = _band_rows(new_sigs, id_col, bands, rows_per_band).selectExpr("*", "true AS _new")
    if old_bands is None:
        old_sigs = minhash_signatures(
            old_docs, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            shingle_n=shingle_n, seed=seed, hash_mode=hash_mode,
        )
        ob = _band_rows(old_sigs, id_col, bands, rows_per_band)
    else:
        ob = old_bands.select(id_col, "band_idx", "band_hash")
    allb = nb.unionByName(ob.selectExpr("*", "false AS _new"))
    allb = _cap_band_buckets(
        allb, max_bucket_size, hot_bucket, observation, "near_dedup_incremental"
    )
    ident = _q(id_col)
    left = allb.where("_new").selectExpr(f"{ident} AS a", "band_idx", "band_hash")
    right = allb.selectExpr(f"{ident} AS b", "_new AS _new_b", "band_idx", "band_hash")
    # canonicalize orientation BEFORE the expensive Jaccard verify: a
    # new-new collision otherwise appears as both (x, y) and (y, x) and
    # each directed pair would be verified independently (2x the gram
    # join work); new-old pairs keep a = new. The verify materializes the
    # candidates itself and carries _new_b through to its output.
    cands = (
        left.join(right, ["band_idx", "band_hash"])
        .where("a != b AND (NOT _new_b OR a < b)")
        .select("a", "b", "_new_b")
        .distinct()
    )
    union_docs = new_docs.select(id_col, text_col).unionByName(old_docs.select(id_col, text_col))
    verified = ngram_jaccard_pairs(
        union_docs, cands, text_col=text_col, id_col=id_col,
        threshold=threshold, shingle_n=shingle_n,
    )
    # lazy lineage truncation: the verified PAIR set is tiny but referenced
    # twice below; without it each reference re-embeds the verify subtree.
    # localCheckpoint(eager=False) materializes once at the first action —
    # same mechanism the components loop uses. (At multi-node scale
    # localCheckpoint blocks are not fault-tolerant; a production run
    # materializes the exact stage to storage instead — jobs/dedup_corpus.py
    # does.) truncate_lineage=False keeps the verify's lineage visible.
    if truncate_lineage:
        verified = verified.localCheckpoint(eager=False)
    # any new doc similar to an OLD doc is dropped outright
    dup_of_old = verified.where("NOT _new_b").selectExpr(f"a AS {ident}").distinct()
    fresh = new_docs.join(dup_of_old, id_col, "left_anti")
    # new-only pairs: transitive representative selection as usual
    new_pairs = verified.where("_new_b").select("a", "b").distinct()
    return near_dedup_representatives(fresh, new_pairs, id_col=id_col)
