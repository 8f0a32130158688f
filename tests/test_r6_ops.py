"""Round-6 operators: per-group rank buckets (perplexity tiers),
split-leakage audit, embedding centroid outlier scores."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from pyppi_spark.operators.quality_lm import rank_buckets
from pyppi_spark.operators.similarity import centroid_scores


# ------------------------------------------------------------ rank_buckets

def _scored(spark):
    rows = [
        # group g1: 7 docs, scores 10..70 — ntile(3) sizes 3/2/2
        *[(i, "g1", float(i * 10)) for i in range(1, 8)],
        # group g2: 3 docs — one per bucket
        (8, "g2", 5.0), (9, "g2", 6.0), (10, "g2", 7.0),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, score double")


def test_rank_buckets_sizes_and_order(spark):
    out = rank_buckets(_scored(spark), "source", "score").collect()
    by_id = {r.doc_id: r.bucket for r in out}
    # g1: lowest 3 scores head, next 2 middle, last 2 tail (ntile remainder
    # goes to the leading buckets)
    assert [by_id[i] for i in range(1, 8)] == [
        "head", "head", "head", "middle", "middle", "tail", "tail"
    ]
    assert (by_id[8], by_id[9], by_id[10]) == ("head", "middle", "tail")


def test_rank_buckets_deterministic_across_parallelism(spark):
    df = _scored(spark)
    a = sorted(map(tuple, rank_buckets(df, "source", "score").collect()))
    b = sorted(map(tuple, rank_buckets(df.repartition(7), "source", "score").collect()))
    assert a == b


def test_rank_buckets_tie_broken_by_id(spark):
    rows = [(i, "g", 1.0) for i in range(1, 7)]  # all scores tie
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r.doc_id: r.bucket for r in rank_buckets(df, "source", "score").collect()}
    assert [out[i] for i in range(1, 7)] == [
        "head", "head", "middle", "middle", "tail", "tail"
    ]


def test_rank_buckets_rejects_single_label(spark):
    with pytest.raises(ValueError):
        rank_buckets(_scored(spark), "source", "score", labels=("only",))


# --------------------------------------------------------- centroid_scores

def test_centroid_scores_matches_numpy(spark):
    rng = np.random.default_rng(7)
    vecs = {lab: rng.normal(size=(5, 8)).astype(np.float32) for lab in (0, 1)}
    rows = [
        (lab * 10 + i, [float(x) for x in v], lab)
        for lab, m in vecs.items()
        for i, v in enumerate(m)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.vec_id: r.cos_centroid for r in centroid_scores(df).collect()}
    for lab, m in vecs.items():
        cent = m.astype(np.float64).mean(axis=0)
        for i, v in enumerate(m):
            v64 = v.astype(np.float64)
            want = float(v64 @ cent / (np.linalg.norm(v64) * np.linalg.norm(cent)))
            assert got[lab * 10 + i] == pytest.approx(want, abs=1e-9)


def test_centroid_scores_outlier_ranks_lowest(spark):
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, base, 0) for i in range(4)] + [(99, [0.0, 1.0, 0.0, 0.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = centroid_scores(df).collect()
    lowest = min(out, key=lambda r: r.cos_centroid)
    assert lowest.vec_id == 99


def test_centroid_scores_deterministic_across_parallelism(spark):
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=6)], int(i % 3)) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    a = {r.vec_id: r.cos_centroid for r in centroid_scores(df).collect()}
    b = {r.vec_id: r.cos_centroid for r in centroid_scores(df.repartition(8)).collect()}
    # same partial-agg tree either way at this size; exact equality expected
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-12)


# ----------------------------------------------------------- split_leakage

def test_split_leakage_detects_planted_cross_split_dup(spark, tmp_path):
    """End-to-end over the driver query: plant two near-identical docs whose
    seeded split assignments differ, plus an identical pair landing in the
    SAME split — only the straddling pair is reported."""
    import __spark_entry__ as e
    from pyppi_spark.operators.sampling import dataset_split

    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    filler = [
        (100 + i, f"unique filler document number {i} with its own words {i * 7}")
        for i in range(60)
    ]
    base = spark.createDataFrame(
        [(1, text_a), (2, text_a + " extra"), *filler], "doc_id long, text string"
    )
    split = {
        r.doc_id: r.split
        for r in dataset_split(
            base, {"train": 0.8, "val": 0.1, "test": 0.1}, id_col="doc_id", seed=42
        ).collect()
    }
    # find a filler id in a DIFFERENT split from doc 1 and clone doc 1's text
    # onto it; find one in the SAME split and clone there too
    other = next(i for i, _ in filler if split[i] != split[1])
    same = next(i for i, _ in filler if split[i] == split[1])
    rows = [(1, text_a), (other, text_a + " extra"), (same, text_a + " more")] + [
        (i, t) for i, t in filler if i not in (other, same)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumns(
        {"lang": F.lit("en"), "source": F.lit("s"), "n_chars": F.length("text")}
    )
    p = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(p, mode="overwrite")
    out = e.q_split_leakage(spark, str(tmp_path)).collect()
    pairs = {(r.a, r.b) for r in out}
    assert (min(1, other), max(1, other)) in pairs
    # the same-split near-dup pair must NOT be reported
    assert (min(1, same), max(1, same)) not in pairs
    for r in out:
        assert r.split_a != r.split_b
        assert r.jaccard >= 0.8


# ------------------------------------------------- review-fix regressions

def test_centroid_scores_zero_vector_null_not_error(spark):
    rows = [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.vec_id: r.cos_centroid for r in centroid_scores(df).collect()}
    assert got[1] is None  # ANSI divide-by-zero must not fail the job
    assert got[2] is not None


def test_line_dedup_preserves_null_text(spark):
    from pyppi_spark.operators.span_dedup import line_dedup

    rows = [(1, None), (2, "first line of real text\nsecond line here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in line_dedup(df, min_line_chars=8).collect()}
    assert got[1].text_clean is None and got[1].n_lines_dropped == 0
    assert got[2].text_clean == rows[1][1]


def test_mix_sample_fast_hash_prefilter(spark):
    """hash_mode='fast' must use the same [0, 2^32) domain the prefilter
    cutoff assumes — and the prefiltered result must equal the exact one."""
    from pyppi_spark.operators.sampling import mix_sample

    rows = [(i, "d", 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, w long")
    exact = sorted(
        r.doc_id
        for r in mix_sample(
            df, "dom", {"d": 300}, weight_col="w", id_col="doc_id",
            seed=3, hash_mode="fast",
        ).collect()
    )
    pre = sorted(
        r.doc_id
        for r in mix_sample(
            df, "dom", {"d": 300}, weight_col="w", id_col="doc_id",
            seed=3, hash_mode="fast", prefilter_margin=4.0,
        ).collect()
    )
    assert exact == pre and len(exact) == 30  # 300 budget / 10 weight


def test_cap_observation_requires_cap(spark):
    import pytest as _pytest
    from pyspark.sql import Observation
    from pyppi_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        winnow_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs)
    with _pytest.raises(ValueError, match="max_bucket_size"):
        minhash_lsh_candidates(
            sigs, hot_bucket="skip", observation=Observation("o1")
        )
    fps = spark.createDataFrame([(1, 7), (2, 7)], "doc_id long, fingerprint long")
    with _pytest.raises(ValueError, match="max_bucket_size"):
        winnow_candidate_pairs(fps, observation=Observation("o2"))


def test_observation_metrics_reraises_never_attached(spark):
    import pytest as _pytest
    from pyspark.sql import Observation
    from pyppi_spark.metrics import observation_metrics

    with _pytest.raises(Exception, match="NO_OBSERVE_BEFORE_GET"):
        observation_metrics(Observation("never"))


def test_bigram_foreign_lm_backoff_fires(spark):
    """Against a foreign LM, unseen bigrams take the backoff path and OOV
    tokens the tf=1 floor — verified against the python reference."""
    from pyppi_spark.operators.quality_lm import bigram_surprisal

    lm_texts = {10: "the cat sat on the mat", 11: "the dog sat on the rug"}
    doc_texts = {1: "the cat sat", 2: "the mat sat", 3: "zyx qwv"}
    lm_df = spark.createDataFrame(list(lm_texts.items()), "doc_id long, text string")
    df = spark.createDataFrame(list(doc_texts.items()), "doc_id long, text string")

    import re
    from collections import Counter

    toks = lambda t: re.sub(r"\s+", " ", t.strip().lower()).split(" ")
    uni, bf, cf = Counter(), Counter(), Counter()
    for t in lm_texts.values():
        ws = toks(t)
        uni.update(ws)
        for a, b in zip(ws, ws[1:]):
            bf[(a, b)] += 1
            cf[a] += 1
    total = sum(uni.values())
    bits_of = lambda n: n.bit_length() - 1
    want = {}
    for d, t in doc_texts.items():
        ws, s = toks(t), 0
        for i, w in enumerate(ws):
            u = bits_of(total) - bits_of(uni.get(w, 1))
            if i == 0:
                s += u
            elif (ws[i - 1], w) in bf:
                s += bits_of(cf[ws[i - 1]]) - bits_of(bf[(ws[i - 1], w)])
            else:
                s += u + 3
        want[d] = (len(ws), s)
    got = {r.doc_id: r for r in bigram_surprisal(df, lm_docs=lm_df).collect()}
    for d, (n, s) in want.items():
        assert (got[d].n_tokens, got[d].sum_bits) == (n, s), d
    # sanity: the backoff genuinely fires — "the mat" is an unseen bigram,
    # so backoff_bits must change doc 2's score
    alt = {r.doc_id: r.sum_bits for r in
           bigram_surprisal(df, lm_docs=lm_df, backoff_bits=10).collect()}
    assert alt[2] > got[2].sum_bits


# --------------------------------------- quality-aware dedup representatives

def test_representatives_keep_best_scored_member(spark):
    from pyppi_spark.operators.dedup import near_dedup_representatives

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (5, 99), (6, None)],
        "doc_id long, n_chars long",
    )
    # component {1,2,3}: best score 50 shared by 2 and 3 -> tie keeps 2;
    # component {4,6}: 6 is NULL-scored, loses to 4; 5 untouched
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 6)], "a long, b long")
    kept = sorted(
        r.doc_id
        for r in near_dedup_representatives(docs, pairs, score_col="n_chars").collect()
    )
    assert kept == [2, 4, 5]


def test_representatives_all_null_component_keeps_min_id(spark):
    from pyppi_spark.operators.dedup import near_dedup_representatives

    docs = spark.createDataFrame(
        [(7, None), (8, None), (9, 3)], "doc_id long, s long"
    )
    pairs = spark.createDataFrame([(8, 7)], "a long, b long")
    kept = sorted(
        r.doc_id for r in near_dedup_representatives(docs, pairs, score_col="s").collect()
    )
    assert kept == [7, 9]


def test_representatives_constant_scores_equal_default_rule(spark):
    from pyppi_spark.operators.dedup import near_dedup_representatives

    docs = spark.createDataFrame(
        [(i, 1) for i in range(10)], "doc_id long, s long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "a long, b long"
    )
    a = sorted(r.doc_id for r in near_dedup_representatives(docs, pairs).collect())
    b = sorted(
        r.doc_id for r in near_dedup_representatives(docs, pairs, score_col="s").collect()
    )
    assert a == b == [0, 3, 4, 5, 7, 8, 9]


# ----------------------------------------------------------- PII redaction

def test_pii_redact_scrubs_and_rescreens_clean(spark):
    from pyppi_spark.functions.text import pii_redact, pii_redaction_count, pii_stats

    rows = [
        (1, "mail me at jane.doe+x@corp.example.org or call +1 (555) 123-4567."),
        (2, "server at 10.0.255.3 answered; no pii here otherwise"),
        (3, "digit local part 123456789@host.io must become one placeholder"),
        (4, None),
        (5, "plain text with nothing sensitive at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    red = df.select("doc_id", pii_redact("text").alias("text"))
    got = {r.doc_id: r.text for r in red.collect()}
    assert got[1] == "mail me at <EMAIL> or call <PHONE>."
    assert got[2] == "server at <IP> answered; no pii here otherwise"
    assert got[3] == "digit local part <EMAIL> must become one placeholder"
    assert got[4] is None
    assert got[5] == rows[4][1]
    # count-vs-scrub consistency: redacted text re-screens to zero
    st = pii_stats("text")
    rescreen = red.select((st["n_email"] + st["n_phone"] + st["n_ipv4"]).alias("n"))
    assert all(r.n == 0 for r in rescreen.collect())
    # n_redacted counts placeholders ACTUALLY inserted — the 9-digit
    # email local part (row 3) matches the phone shape too but yields ONE
    # placeholder, so the count must be 1, not 2
    counts = {
        r.doc_id: r.n
        for r in df.select("doc_id", pii_redaction_count("text").alias("n")).collect()
    }
    assert counts == {1: 2, 2: 1, 3: 1, 4: 0, 5: 0}
    for doc_id, text in got.items():
        want = 0 if text is None else sum(
            text.count(p) for p in ("<EMAIL>", "<PHONE>", "<IP>")
        )
        assert counts[doc_id] == want


# --------------------------------------------------- PIT similarity retrieval

def test_pit_topk_never_leaks_future(spark):
    import numpy as np
    from pyppi_spark.operators.similarity import brute_force_topk, pit_topk

    rng = np.random.default_rng(11)
    rows = [(i, i * 10, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, ts long, embedding array<double>")
    probes = emb.where("vec_id >= 30")
    out = pit_topk(probes, emb, k=3, ts_col="ts", dim=8).collect()
    assert len(out) == 10 * 3
    for r in out:
        assert r.neighbor_id < r.query_id  # strictly earlier ts = smaller id here

    # inclusive mode admits same-ts rows (planted tie) but still not future
    tie = spark.createDataFrame(
        [(100, 300, rows[30][2])], "vec_id long, ts long, embedding array<double>"
    )
    emb2 = emb.union(tie)
    strict = pit_topk(emb2.where("vec_id = 100"), emb2, k=50, ts_col="ts", dim=8)
    incl = pit_topk(
        emb2.where("vec_id = 100"), emb2, k=50, ts_col="ts", dim=8, inclusive=True
    )
    sn = {r.neighbor_id for r in strict.collect()}
    inn = {r.neighbor_id for r in incl.collect()}
    assert 30 not in sn and 30 in inn  # the ts-tie row admitted only inclusively
    assert max(inn) <= 30  # future rows (ts > 300) never appear

    # with every candidate in the past, pit_topk == brute_force_topk
    past = emb.where("vec_id < 30")
    a = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in pit_topk(probes, past, k=3, ts_col="ts", dim=8).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.rk)
        for r in brute_force_topk(probes, past, k=3, dim=8).collect()
    )
    assert a == b


def test_pit_topk_no_history_rows_absent(spark):
    from pyppi_spark.operators.similarity import pit_topk

    emb = spark.createDataFrame(
        [(1, 10, [1.0, 0.0]), (2, 20, [0.0, 1.0])],
        "vec_id long, ts long, embedding array<double>",
    )
    out = pit_topk(emb, emb, k=5, ts_col="ts", dim=2).collect()
    # vec 1 has no history -> absent; vec 2 sees only vec 1
    assert [(r.query_id, r.neighbor_id) for r in out] == [(2, 1)]


# ------------------------------------------------------ exact heavy hitters

def test_frequent_tokens_equals_naive_groupby(spark):
    from pyspark.sql import functions as F
    from pyppi_spark.operators.heavy_hitters import frequent_tokens
    from pyppi_spark.operators.quality_lm import _norm_tokens

    rows = [(i, "the common words appear everywhere " + f"rare{i} token{i % 17}")
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(6)
    got = sorted(
        (r.tok, r.cnt) for r in frequent_tokens(docs, min_ppm=20000).collect()
    )
    toks = docs.select(F.explode(_norm_tokens("text")).alias("tok"))
    total = toks.count()
    naive = sorted(
        (r.tok, r.cnt)
        for r in toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * 1_000_000 >= 20000 * total)
        .collect()
    )
    assert got == naive and len(got) > 0
    # partition invariance
    got1 = sorted(
        (r.tok, r.cnt)
        for r in frequent_tokens(docs.coalesce(1), min_ppm=20000).collect()
    )
    assert got1 == naive


def test_frequent_tokens_edge_cases(spark):
    from pyppi_spark.operators.heavy_hitters import frequent_tokens

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert frequent_tokens(empty, min_ppm=1000).collect() == []
    with pytest.raises(ValueError):
        frequent_tokens(empty, min_ppm=0)
    with pytest.raises(ValueError):
        frequent_tokens(empty, min_ppm=2_000_000)
