"""Driver-side cost of building the dedup pass, and the shape of its verify.

Each Py4J round trip costs ~0.2 ms and PySpark's Column operators make
~8-13 of them apiece, so the operators on the ``corpus_dedup`` path build
their plans from SQL text: one expression per column, one
``selectExpr``/``agg`` call per step. The budgets below are about twice the
counts measured for that form; the Column-built form they replaced made
6-7k round trips for ``minhash_signatures`` alone.
"""

from __future__ import annotations

import contextlib
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation

from pyppi_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    near_dedup_representatives,
    ngram_jaccard_pairs,
)
from pyppi_spark.operators.similarity import semantic_dedup_pairs, train_centroids_from_file

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"


def _docs(spark):
    rows = []
    for i in range(12):
        rows.append((3 * i, f"{BASE} story {i} with a distinct ending number {i}"))
        rows.append((3 * i + 1, f"{BASE} story {i} with a distinct ending number {i} again"))
        rows.append((3 * i + 2, f"unrelated text {i} about parquet readers and window sorts"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@contextlib.contextmanager
def py4j_round_trips():
    """Count the commands the driver sends to the JVM. Memory commands
    (proxy garbage collection) are skipped: they depend on when Python
    drops earlier objects, not on the plan being built."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    n = [0]
    originals = {cls: cls.send_command for cls in (cs.ClientServerConnection, jg.GatewayConnection)}

    def counting(orig):
        def send_command(self, command, *args, **kwargs):
            if not command.startswith("m\n"):
                n[0] += 1
            return orig(self, command, *args, **kwargs)

        return send_command

    for cls, orig in originals.items():
        cls.send_command = counting(orig)
    try:
        yield n
    finally:
        for cls, orig in originals.items():
            cls.send_command = orig


def _builders(spark):
    docs = _docs(spark)
    sigs = minhash_signatures(docs).localCheckpoint()
    cands = minhash_lsh_candidates(sigs, bands=32, rows_per_band=2).localCheckpoint()
    pairs = ngram_jaccard_pairs(docs, cands, threshold=0.8).localCheckpoint()
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(40, 8))
    vecs[1::2] = vecs[::2] + 1e-3
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    cents = vecs[:4]
    # (name, build, budget): build returns the operator's DataFrame
    return [
        ("exact_dedup", lambda: exact_dedup(docs), 50),
        ("minhash_signatures", lambda: minhash_signatures(docs), 100),
        ("minhash_signatures_portable", lambda: minhash_signatures(docs, hash_mode="portable"), 100),
        (
            "minhash_lsh_candidates",
            lambda: minhash_lsh_candidates(
                sigs, bands=32, rows_per_band=2, max_bucket_size=10,
                hot_bucket="skip", observation=Observation("caps"),
            ),
            150,
        ),
        (
            "minhash_lsh_candidates_error",
            lambda: minhash_lsh_candidates(sigs, bands=32, rows_per_band=2, max_bucket_size=10),
            150,
        ),
        ("ngram_jaccard_pairs", lambda: ngram_jaccard_pairs(docs, cands, threshold=0.8), 250),
        ("near_dedup_representatives", lambda: near_dedup_representatives(docs, pairs), 220),
        (
            "semantic_dedup_pairs",
            lambda: semantic_dedup_pairs(emb, cents, threshold=0.99, id_col="vec_id", dim=8),
            400,
        ),
    ]


def test_dedup_operators_build_within_round_trip_budget(spark):
    over = {}
    for name, build, budget in _builders(spark):
        build()  # warm: first-use class loading and lazy JVM state
        with py4j_round_trips() as n:
            build()
        if n[0] > budget:
            over[name] = (n[0], budget)
    assert not over, f"(round trips, budget) per operator: {over}"


def _executions(spark):
    """The SQL executions the status store still keeps (the latest ones),
    oldest first, once the listener has seen every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _plans_after(spark, last_id: int) -> list[str]:
    """Final (or current) physical plans, as simple explain text, of the
    SQL executions after ``last_id``."""
    execs, plans = _executions(spark), []
    i = execs.size() - 1
    while i >= 0 and execs.apply(i).executionId() > last_id:
        plans.append(execs.apply(i).physicalPlanDescription().split("== Initial Plan ==")[0])
        i -= 1
    return plans


def test_verify_over_unmaterialized_lsh_plan(spark):
    """The verify reads its candidate pairs three times; handed the lazy
    signature → LSH plan, it must run that plan once, with the same cap
    accounting and the same verified pairs as a pre-checkpointed input."""
    docs = _docs(spark)
    prev = spark.conf.get("spark.sql.ui.explainMode", "formatted")
    spark.conf.set("spark.sql.ui.explainMode", "simple")

    def run(pre_checkpoint: bool):
        obs = Observation("verify_caps")
        cands = minhash_lsh_candidates(
            minhash_signatures(docs), bands=32, rows_per_band=2,
            max_bucket_size=2, hot_bucket="skip", observation=obs,
        )
        if pre_checkpoint:
            cands = cands.localCheckpoint()
        execs = _executions(spark)
        last_id = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        pairs = sorted(tuple(r) for r in ngram_jaccard_pairs(docs, cands, threshold=0.5).collect())
        return pairs, obs.get, _plans_after(spark, last_id)

    try:
        ref_pairs, ref_caps, _ = run(pre_checkpoint=True)
        pairs, caps, plans = run(pre_checkpoint=False)
    finally:
        spark.conf.set("spark.sql.ui.explainMode", prev)
    assert pairs == ref_pairs and len(pairs) > 0
    assert caps == ref_caps and caps["rows_dropped"] > 0, caps
    text = "\n".join(plans)
    # the signature aggregate (its map-side partial) runs once
    assert text.count("functions=[partial_min(pmod(") == 1, text
    # and so does the candidate de-dup: one partial + one final aggregate,
    # no re-read of the LSH output per reference
    distinct_aggs = re.findall(r"HashAggregate\(keys=\[a#\d+L, b#\d+L\], functions=\[\]\)", text)
    assert len(distinct_aggs) == 2, text


def _write_corpus(path, dim: int = 64) -> None:
    """Word documents with planted exact (case/spacing) and near (one word
    replaced) copies; copies' embeddings are the base's plus small noise.
    Writes ``docs/`` (four files) and ``vectors.parquet`` under ``path``."""
    rng = np.random.default_rng(7)
    vocab = np.array([f"w{i:04d}" for i in range(3000)])
    texts, embs = [], []
    for i in range(240):
        words = list(rng.choice(vocab, size=int(rng.integers(60, 100))))
        e = rng.standard_normal(dim)
        texts.append(" ".join(words))
        embs.append(e)
        if i % 3 == 0:
            texts.append(" ".join(["replaced"] + words[1:]))
            embs.append(e + rng.standard_normal(dim) * 0.01)
        if i % 5 == 0:
            texts.append("  ".join(words).upper())
            embs.append(e + rng.standard_normal(dim) * 0.01)
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    emb = pa.FixedSizeListArray.from_arrays(pa.array(np.ravel(embs)), dim)
    table = pa.table({"doc_id": ids, "text": texts, "embedding": emb.cast(pa.list_(pa.float64()))})
    (path / "docs").mkdir()
    per_file = -(-table.num_rows // 4)
    for i in range(4):
        pq.write_table(table.slice(i * per_file, per_file), str(path / "docs" / f"part-{i}.parquet"))
    pq.write_table(table.select(["doc_id", "embedding"]), str(path / "vectors.parquet"))


def _compiled_classes(spark) -> int:
    """Generated classes compiled so far in this JVM (codegen cache misses)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM-wide generated-class cache (a private field of
    ``CodeGenerator``), so a count of compiled classes does not depend on
    what earlier tests in the session compiled."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).loadingCache().invalidateAll()


def test_dedup_pass_reuses_compiled_code(spark, tmp_path):
    """A second pass of the perfbench ``corpus_dedup`` pipeline (exact,
    MinHash signatures, LSH with a skip cap, Jaccard verify,
    representatives, SemDeDup pairs; each stage written and read back)
    compiles no generated class. Its working set is over Spark's default
    codegen cache (100 classes, LRU): at that size every pass recompiled
    most of them. The session keeps 1000."""
    from jobs.dedup_corpus import MINHASH_PARAMS as P

    _write_corpus(tmp_path)
    docs = spark.read.parquet(str(tmp_path / "docs"))

    def stage(name, df):
        df.write.mode("overwrite").parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    def dedup_pass():
        uniq = stage("exact", exact_dedup(docs))
        sigs = minhash_signatures(
            uniq, num_hashes=P["num_hashes"], shingle_n=P["shingle_n"], seed=P["seed"],
            hash_mode=P["hash_mode"],
        )
        cands = minhash_lsh_candidates(
            sigs, bands=P["bands"], rows_per_band=P["rows_per_band"], max_bucket_size=10_000,
            hot_bucket="skip", observation=Observation("caps"),
        )
        pairs = stage("pairs", ngram_jaccard_pairs(uniq, cands, threshold=0.8).select("a", "b"))
        stage("kept", near_dedup_representatives(uniq, pairs))
        cents = train_centroids_from_file(str(tmp_path / "vectors.parquet"), id_col="doc_id")
        stage("semantic", semantic_dedup_pairs(docs, cents, threshold=0.95, id_col="doc_id", dim=64))

    _clear_codegen_cache(spark)
    n0 = _compiled_classes(spark)
    dedup_pass()
    n1 = _compiled_classes(spark)
    dedup_pass()
    n2 = _compiled_classes(spark)
    assert n1 - n0 > 100, f"first pass compiled {n1 - n0} classes: under the default cache size"
    assert n2 - n1 == 0, f"second pass recompiled {n2 - n1} of the first pass's {n1 - n0} classes"
    kept = spark.read.parquet(str(tmp_path / "kept")).count()
    assert 0 < kept < docs.count()
