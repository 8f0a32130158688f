"""Sub-document dedup: duplicated LINES and duplicated TOKEN SPANS
removed from otherwise-unique documents — the dedup family that operates
inside documents rather than between them.

Two public pipelines:

- ``line_dedup`` — C4/RefinedWeb-style corpus-global line dedup: any
  line occurring more than once across the corpus survives only at its
  first occurrence (min ``(doc_id, line_idx)``); every other occurrence
  is dropped from its document's text.
- ``duplicate_spans`` / ``exact_substring_dedup`` — the ExactSubstr
  scheme of Lee et al. 2021 ("Deduplicating Training Data Makes
  Language Models Better") re-expressed relationally: instead of a
  suffix array, duplicated k-token grams are found with one
  hash-aggregate over a window-built gram stream, overlapping gram hits
  are merged into maximal spans per document, and (optionally) all but
  the globally-first occurrence of each duplicated passage is cut from
  the text in token space.

Reference analog: the whole-entity dedup stages of
/root/reference/bin/setupPpiDb.py:200-233 dedup at record granularity;
this module is the sub-record refinement the LLM-pipeline tier needs.

Physical shape (100 TB): tokenize + gram build are one Exchange on
``doc_id`` (window lead-chain, whole-stage codegen — no interpreted
string HOFs, per the minhash_signatures lesson); duplicate detection is
one hash-aggregate on the fixed-width ``(gram_hash, gram_len)``
composite key with map-side partials; span merge is a per-document
window (bounded by document length, no corpus-scale skew); the text cut
is an equi join of per-doc span arrays back to the docs plus one
numeric-fold projection. Nothing is all-pairs and no corpus-scale
collect exists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import _word_hash

# explicit whitespace class, NOT \s: Java's \s matches \x0B, RE2's does
# not — the identical pattern must tokenize identically in Spark and the
# DuckDB oracle (see functions/text.py BPE_TOKEN_PATTERN).
WS_CLASS = r"[ \t\n\r\f\x0B]+"


def token_positions(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per (document, token position): whitespace tokenization
    with 0-based positions — the exploded stream every span operator
    consumes. Empty/NULL texts yield no rows."""
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    return (
        df.select(id_col, F.posexplode_outer(toks).alias("pos", "token"))
        .where(F.col("token").isNotNull() & (F.col("token") != ""))
    )


def _gram_stream(
    toks: DataFrame, k: int, id_col: str, hash_mode: str
) -> DataFrame:
    """(id, pos, gram key) for every k-token window: a lead-chain over
    the per-document position order — k-1 ``lead`` columns + one
    ``concat_ws``, all whole-stage codegen (the explode+window
    formulation; interpreted array-HOF slicing measured ~10× slower on
    string pipelines). Rows whose window runs off the document end are
    dropped (``lead(k-1)`` NULL)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", j).over(w) for j in range(1, k)]
    gram = F.concat_ws(" ", *parts)
    # gram and the off-the-end guard MUST live in one projection: a
    # filter between two window projections would make the second
    # window's leads re-evaluate over the FILTERED rows, silently
    # truncating grams near each document's end (concat_ws skips NULLs).
    built = toks.select(
        id_col, "pos", gram.alias("_gram"), parts[-1].alias("_last")
    )
    return built.where(F.col("_last").isNotNull()).select(
        id_col,
        "pos",
        _word_hash("_gram", hash_mode).alias("_g"),
        F.length("_gram").alias("_gl"),
    )


def duplicate_gram_occurrences(
    df: DataFrame,
    k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    hash_mode: str = "fast",
    mark_keeper: bool = False,
) -> DataFrame:
    """Every (doc, start position) whose k-token gram occurs at least
    ``min_count`` times corpus-wide. The composite ``(hash, gram
    length)`` key makes 32-bit portable-mode birthday collisions
    harmless at bench scale and 64-bit fast-mode ones negligible at 100
    TB. ``mark_keeper`` adds ``is_keeper``: true on the globally-first
    occurrence (min ``(doc_id, pos)``) of each duplicated gram — the one
    ``exact_substring_dedup`` preserves."""
    toks = token_positions(df, text_col, id_col)
    grams = _gram_stream(toks, k, id_col, hash_mode)
    per_gram = grams.groupBy("_g", "_gl").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct(id_col, "pos")).alias("_first"),
    )
    hits = grams.join(
        per_gram.where(F.col("_n") >= min_count), ["_g", "_gl"], "inner"
    )
    out = hits.select(
        id_col,
        "pos",
        F.col("_n").alias("gram_count"),
        (
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("pos") == F.col("_first.pos"))
        ).alias("is_keeper"),
    )
    return out if mark_keeper else out.drop("is_keeper")


def merge_spans(
    occurrences: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Merge overlapping/adjacent k-token hits ``[pos, pos+k)`` into
    maximal half-open spans per document — the classic
    running-max-end island cumsum, one per-document window (document
    length bounds the partition, so no corpus-scale window skew)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        occurrences.select(id_col, "pos", (F.col("pos") + k).alias("_end"))
        .withColumn(
            "_prev_end",
            F.max("_end").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "_island",
            F.sum(
                F.when(
                    F.col("_prev_end").isNull()
                    | (F.col("pos") > F.col("_prev_end")),
                    1,
                ).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return spans.groupBy(id_col, "_island").agg(
        F.min("pos").alias("span_start"),
        F.max("_end").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("_island")


def duplicate_spans(
    df: DataFrame,
    k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    hash_mode: str = "fast",
) -> DataFrame:
    """Maximal duplicated token spans per document: every ``[span_start,
    span_end)`` (0-based token positions, half-open) all of whose
    length-k windows occur ≥ ``min_count`` times corpus-wide, overlapping
    hits merged. The audit view of ExactSubstr — what a 100 TB pipeline
    materializes to decide a cut threshold before mutating text."""
    occ = duplicate_gram_occurrences(
        df, k, text_col, id_col, min_count, hash_mode
    )
    return merge_spans(occ, k, id_col)


def exact_substring_dedup(
    df: DataFrame,
    k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "fast",
    keep_first: bool = True,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021): cut every duplicated k-token
    passage from the corpus, keeping (by default) exactly the
    globally-first occurrence of each duplicated gram. Returns all
    original columns plus ``text_clean`` (tokens outside cut spans,
    single-space joined — the cut is in TOKEN space, so original
    whitespace is canonicalized) and ``n_tokens_removed``.

    Shape: occurrence spans are collected into one small array per
    affected document (span count ≤ doc length / k), equi-joined back on
    ``id_col``, and the cut is a single numeric-fold projection
    (position-vs-interval compares — the HOF case that BEATS unrolled
    codegen per CLAUDE.md; no second explode, no range join)."""
    occ = duplicate_gram_occurrences(
        df, k, text_col, id_col, 2, hash_mode, mark_keeper=keep_first
    )
    if keep_first:
        occ = occ.where(~F.col("is_keeper"))
    spans = merge_spans(occ, k, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    out = df.join(per_doc, id_col, "left")
    return (
        out.withColumn(
            "text_clean",
            F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
                F.concat_ws(" ", kept)
            ),
        )
        .withColumn(
            "n_tokens_removed",
            F.coalesce(
                F.aggregate(
                    "_spans",
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + (s["span_end"] - s["span_start"]),
                ),
                F.lit(0).cast("long"),
            ),
        )
        .drop("_spans")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 8,
    hash_mode: str = "fast",
) -> DataFrame:
    """C4/RefinedWeb-style corpus-global LINE dedup: a line occurring in
    more than one place corpus-wide survives only at its first
    occurrence (min ``(doc_id, line_idx)``); later occurrences are
    dropped from their documents. Lines shorter than ``min_line_chars``
    never participate (empty lines and markup stubs would otherwise be
    hot keys AND false dups). Returns all original columns plus
    ``text_clean`` (kept lines re-joined with newlines — lossless for
    untouched documents) and ``n_lines_dropped``.

    Shape (LOSERS-ONLY — line text never crosses an Exchange): explode
    lines to fixed-width ``(line_hash, line length, id, line_idx)`` rows →
    one hash-aggregate per key keeping the first occurrence and the
    occurrence count (map-side partials absorb hot lines) → an equi join
    back on the key restricted to ``count > 1`` groups yields only the
    LOSING occurrences (the duplicated tail — tiny relative to the
    corpus) → per-doc loser-index sets join back to the original rows,
    where the kept text is re-assembled locally by filtering the doc's own
    line array (the heavy strings stay in their scan partition; the old
    formulation shuffled every line's text twice — keeper join + ordered
    re-assembly)."""
    lines = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", "line")
    )
    eligible = lines.where(F.length("line") >= min_line_chars).select(
        id_col,
        "line_idx",
        _word_hash("line", hash_mode).alias("_h"),
        F.length("line").alias("_hl"),
    )
    firsts = (
        eligible.groupBy("_h", "_hl")
        .agg(
            F.min(F.struct(id_col, "line_idx")).alias("_first"),
            F.count(F.lit(1)).alias("_occ"),
        )
        .where(F.col("_occ") > 1)
        .select("_h", "_hl", "_first")
    )
    losers = eligible.join(firsts, ["_h", "_hl"]).where(
        ~(
            (F.col(id_col) == F.col(f"_first.{id_col}"))
            & (F.col("line_idx") == F.col("_first.line_idx"))
        )
    )
    drops = losers.groupBy(id_col).agg(
        F.collect_set("line_idx").alias("_drop"),
        F.count(F.lit(1)).alias("_nd"),
    )
    out = df.join(drops, id_col, "left")
    lines_arr = F.split(F.col(text_col), "\n")
    rebuilt = F.concat_ws(
        "\n", F.filter(lines_arr, lambda x, i: ~F.array_contains(F.col("_drop"), i))
    )
    return (
        out.withColumn(
            # NULL text stays NULL (lossless for untouched documents, same
            # contract as exact_substring_dedup); '' means every line of a
            # real document was dropped. Untouched documents (no loser
            # lines) keep the ORIGINAL string — the split/join round-trip
            # is lossless, so this equals the old re-assembly bitwise.
            "text_clean",
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
            .when(F.col("_drop").isNull(), F.col(text_col))
            .otherwise(rebuilt),
        )
        .withColumn(
            "n_lines_dropped",
            F.when(F.col(text_col).isNull(), F.lit(0))
            .otherwise(F.coalesce(F.col("_nd"), F.lit(0)))
            .cast("long"),
        )
        .drop("_drop", "_nd")
    )
