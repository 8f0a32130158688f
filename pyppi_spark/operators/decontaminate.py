"""Benchmark decontamination: n-gram overlap of a corpus against an
evaluation set.

A 100 TB training corpus must be screened for evaluation-set leakage
before training — the standard scheme (the GPT-3/PaLM appendix method) is
word n-gram collision: a document is contaminated when it shares ≥1
sufficiently long n-gram with any benchmark document. Semantically this
is the reference's P1 membership screen (``a.chain in part`` at
``/root/reference/pyPPI/pdbReader.py:114-115``,
``/root/reference/bin/setupPpiDb.py:129-130``) with a DERIVED membership
set: the probe keys are built from the benchmark's content rather than
given as a literal list.

Physical shape (all codegen until the final join):

1. distinct word ``n``-grams per corpus doc — ``posexplode(split)`` + the
   ``lead``-window gram builder shared with the Jaccard verifier (one
   shuffle on doc_id, reused by the final count);
2. the benchmark's DISTINCT gram set — tiny relative to the corpus (an
   eval set is KBs–MBs), so it ships as a **broadcast** build side: the
   per-gram probe is a broadcast LEFT SEMI-shaped join, no corpus-wide
   gram shuffle;
3. per-doc counts: total distinct grams vs overlapping grams → overlap
   fraction + contamination flag.

``key="hash"`` (default) joins on ``xxhash64(gram)`` — fixed-width keys,
the 100 TB path. ``key="text"`` joins on the gram string itself — exact,
engine-portable (the driver oracle mode). A hash collision can only
FLAG a clean document (never unflag a contaminated one), and at 64 bits
the probability is negligible; decontamination errs conservative anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _normalize


def _grams(df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True) -> DataFrame:
    """One row per (doc, word n-gram) occurrence (``distinct=False``) or
    per distinct gram. The ``lead`` window MUST partition by the doc id —
    an unpartitioned window would build grams spanning document boundaries
    (and posexplode positions restart per row, so ordering would interleave
    documents). Documents shorter than ``n`` words contribute their whole
    text as one gram, so short docs are still screened. NULL text is
    treated as empty (one empty gram) — ``posexplode_outer`` + coalesce,
    matching the kernel strategy's ``text or ""`` so both strategies agree
    on null-text docs too (a plain posexplode would silently drop the doc
    from the report)."""
    words = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(_normalize(text_col), " ")).alias("_pos", "_w0"),
    ).select(
        F.col(id_col),
        F.coalesce("_pos", F.lit(0)).alias("_pos"),
        F.coalesce("_w0", F.lit("")).alias("_w0"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    lead_cols = [F.lead("_w0", j).over(w).alias(f"_w{j}") for j in range(1, n)]
    sh = (
        words.select(F.col(id_col), "_pos", "_w0", *lead_cols)
        .where(F.col(f"_w{n - 1}").isNotNull() | (F.col("_pos") == 0))
        .select(F.col(id_col), F.concat_ws(" ", *[f"_w{j}" for j in range(n)]).alias("_g"))
    )
    return sh.dropDuplicates([id_col, "_g"]) if distinct else sh


def _distinct_grams(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return _grams(df, text_col, id_col, n, distinct=True)


def repetition_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    key: str = "hash",
    strategy: str = "relational",
) -> DataFrame:
    """Per-document repetition statistics — the DataFrame-level form of
    ``functions.text.repetition_stats`` (same values, same edge semantics),
    as gram ROWS + one hash aggregation instead of per-row array HOFs:
    measured 5× faster at sf0.1 (higher-order array functions evaluate
    interpreted; explode+lead+hashagg stays in whole-stage codegen). One
    shuffle of fixed-width (id, gram-hash) rows.

    ``key="hash"`` counts distinct xxhash64(gram) — fixed-width shuffle,
    the scale path of the relational form (a 64-bit collision undercounts
    distinct by 1 with probability ~n²/2⁶⁵ per doc — negligible, and
    conservative: it can only INCREASE the repetition signal).
    ``key="text"`` counts the gram strings exactly (oracle-portable).

    ``strategy="kernel"``: the statistic is doc-local, so a ``mapInPandas``
    kernel computes it with ZERO shuffle (the relational form shuffles one
    row per corpus word); exact set counting, ``key`` ignored. Both
    strategies agree value-for-value (tested)."""
    if key not in ("hash", "text"):
        raise ValueError(f"unknown key {key!r}")
    if strategy not in ("relational", "kernel"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "kernel":
        import pandas as pd

        id_type = docs.schema[id_col].dataType.simpleString()
        staged = docs.select(
            F.col(id_col).alias("_id"), _normalize(text_col).alias("_t")
        )

        def kernel(batches):
            for b in batches:
                ids, totals, distincts = [], [], []
                for doc_id, t in zip(b["_id"], b["_t"]):
                    grams = _py_grams(t, n)
                    ids.append(doc_id)
                    totals.append(len(grams))
                    distincts.append(len(set(grams)))
                yield pd.DataFrame(
                    {id_col: ids, "n_grams_total": totals, "n_grams_distinct": distincts}
                )

        counted = staged.mapInPandas(
            kernel,
            schema=f"{id_col} {id_type}, n_grams_total long, n_grams_distinct long",
        )
    else:
        g = _grams(docs, text_col, id_col, n, distinct=False)
        gk = F.xxhash64("_g") if key == "hash" else F.col("_g")
        counted = g.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_grams_total"),
            F.countDistinct(gk).alias("n_grams_distinct"),
        )
    return counted.withColumn(
        "repetition_frac",
        (F.col("n_grams_total") - F.col("n_grams_distinct")).cast("double")
        / F.col("n_grams_total").cast("double"),
    )


def _py_grams(text: str | None, n: int) -> list[tuple[str, ...]]:
    """Python mirror of the relational gram builder over ALREADY-NORMALIZED
    text: word n-gram tuples, whole text as one gram when shorter than n.
    Tuples (not joined strings) — identity is the word sequence."""
    words = (text or "").split(" ")
    if len(words) < n:
        return [tuple(words)]
    return [tuple(words[i:i + n]) for i in range(len(words) - n + 1)]


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
    max_overlap_frac: float = 0.0,
    key: str = "hash",
    strategy: str = "relational",
    max_bench_grams: int = 5_000_000,
) -> DataFrame:
    """Per-document contamination report against a benchmark set:
    (id, n_grams, n_overlap, overlap_frac, contaminated).

    ``max_bench_grams`` bounds the kernel strategy's driver-side collect of
    the benchmark gram set (eval sets are KBs–MBs by contract — ~5M grams
    ≈ several hundred MB of Python tuples): above the bound the kernel
    strategy raises with a pointer to ``strategy="relational"`` (whose
    broadcast build side never materializes on the driver as Python
    objects) instead of OOMing the driver.

    ``contaminated`` is true when ``overlap_frac > max_overlap_frac`` — the
    default 0.0 flags ANY shared n-gram (the conservative standard). Filter
    ``~contaminated`` to decontaminate, or join the report back for audit.

    ``strategy``:

    - ``"relational"``: corpus grams as rows (explode + lead window, one
      shuffle of fixed-width (id, gram-key) rows per WORD of the corpus),
      benchmark gram set broadcast into a semi join. Pure JVM — the
      oracle-portable form, and the right one when Python workers are
      unavailable.
    - ``"kernel"``: gram counting is doc-local, so no corpus row needs to
      shuffle at all — the benchmark's (small) gram set broadcasts into a
      ``mapInPandas`` kernel that emits one report row per doc directly.
      At 100 TB of text the relational form's per-word shuffle is the
      dominant cost (same class as the winnowing per-character shuffle);
      this is the scale path. ``key`` is ignored (gram identity is the
      word-tuple itself). Both strategies agree value-for-value (tested).
    """
    if key not in ("hash", "text"):
        raise ValueError(f"unknown key {key!r}")
    if strategy not in ("relational", "kernel"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # benchmark grams are built per benchmark doc either way (grams must
    # not span documents); eval sets without an id get a content hash
    bench = benchmark.withColumn("_bid", F.xxhash64(F.col(bench_text_col)))
    bench_gram_rows = _distinct_grams(bench, bench_text_col, "_bid", n)

    if strategy == "kernel":
        import pandas as pd

        # one bounded job: collect at most the cap + 1 rows — overflow is
        # detected without a separate count() that would recompute the
        # whole distinct aggregation
        rows = (
            bench_gram_rows.select("_g").distinct()
            .limit(max_bench_grams + 1).collect()
        )
        if len(rows) > max_bench_grams:
            raise ValueError(
                f"decontaminate(strategy='kernel'): benchmark has > "
                f"max_bench_grams={max_bench_grams} distinct grams; the "
                "kernel strategy collects the gram set to the driver — use "
                "strategy='relational' (broadcast join, no driver collect) "
                "for large benchmarks"
            )
        bench_set = frozenset(tuple(g.split(" ")) for (g,) in rows)
        bc = docs.sparkSession.sparkContext.broadcast(bench_set)
        id_type = docs.schema[id_col].dataType.simpleString()
        staged = docs.select(
            F.col(id_col).alias("_id"), _normalize(text_col).alias("_t")
        )

        def kernel(batches):
            bset = bc.value
            for b in batches:
                ids, totals, overlaps = [], [], []
                for doc_id, t in zip(b["_id"], b["_t"]):
                    grams = set(_py_grams(t, n))
                    ids.append(doc_id)
                    totals.append(len(grams))
                    overlaps.append(len(grams & bset))
                yield pd.DataFrame(
                    {id_col: ids, "n_grams": totals, "n_overlap": overlaps}
                )

        counted = staged.mapInPandas(
            kernel, schema=f"{id_col} {id_type}, n_grams long, n_overlap long"
        )
    else:
        gram_key = (lambda c: F.xxhash64(c)) if key == "hash" else (lambda c: c)
        doc_grams = _distinct_grams(docs, text_col, id_col, n).select(
            F.col(id_col), gram_key(F.col("_g")).alias("_k")
        )
        bench_grams = bench_gram_rows.select(gram_key(F.col("_g")).alias("_k")).distinct()
        # ONE pass over the gram rows: broadcast-left-join marks each gram
        # as hit/miss, a single aggregation counts both. (The obvious
        # totals ⟕ semi-join-overlaps shape computes the gram subtree
        # TWICE — once per branch — and adds a join; measured 6 exchanges
        # vs this form's 3.) bench_grams is distinct on _k, so the left
        # join cannot fan rows out.
        hit = doc_grams.join(
            F.broadcast(bench_grams.withColumn("_hit", F.lit(1))), "_k", "left"
        )
        counted = hit.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_overlap"),
        )
    return counted.withColumn(
        "overlap_frac",
        F.col("n_overlap").cast("double") / F.col("n_grams").cast("double"),
    ).withColumn("contaminated", F.col("overlap_frac") > F.lit(max_overlap_frac))
