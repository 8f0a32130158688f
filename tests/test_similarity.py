from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from pyppi_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    train_centroids_from_file,
)

DIM = 16


@pytest.fixture(scope="module")
def vecs_path(tmp_path_factory):
    """The seeded vectors as one parquet file, which the trainers read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, DIM))
    # plant near-duplicates: vectors 30..34 are tiny perturbations of 0..4
    base[30:35] = base[0:5] + rng.standard_normal((5, DIM)) * 0.01
    path = str(tmp_path_factory.mktemp("vecs") / "vecs.parquet")
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(40), pa.int32()),
            "embedding": pa.array(base.astype(np.float32).tolist(), pa.list_(pa.float32())),
        }),
        path,
    )
    return path


@pytest.fixture(scope="module")
def vecs(spark, vecs_path):
    df = spark.read.parquet(vecs_path)
    df.persist()
    df.count()
    return df


def test_brute_force_exact_topk(spark, vecs):
    out = brute_force_topk(vecs.where(F.col("vec_id") < 3), vecs, k=5, dim=DIM).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out.groupby("query_id").size() == 5).all()
    # planted near-dup must be the top neighbor
    top = out[out.rk == 1].set_index("query_id")["neighbor_id"]
    assert top[0] == 30 and top[1] == 31 and top[2] == 32


def test_ivf_recall_of_planted_duplicates(spark, vecs, vecs_path):
    cents = train_centroids_from_file(vecs_path, n_centroids=4, seed=3)
    out = ivf_topk(vecs.where(F.col("vec_id") < 3), vecs, cents, k=5, n_probe=2).toPandas()
    top = out[out.rk == 1].set_index("query_id")["neighbor_id"]
    assert top[0] == 30 and top[1] == 31 and top[2] == 32


def test_threshold_pairs_exact_equals_brute_force(spark, vecs):
    from pyppi_spark.operators.similarity import threshold_pairs_exact
    from pyppi_spark.functions.vectors import dot, l2_norm
    from pyspark.sql import functions as F

    got = threshold_pairs_exact(vecs, threshold=0.9, dim=DIM).toPandas()
    v = vecs.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        l2_norm(F.col("embedding").cast("array<double>"), DIM).alias("n"),
    )
    a = v.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    b = v.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    want = (
        a.join(F.broadcast(b), F.col("a") < F.col("b"))
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb"), DIM) / (F.col("na") * F.col("nb")))
        .where(F.col("cos_sim") >= 0.9)
        .select("a", "b", "cos_sim")
        .toPandas()
    )
    key = lambda df: df.sort_values(["a", "b"]).reset_index(drop=True)
    g, w = key(got), key(want)
    assert len(g) == len(w) and len(g) >= 5  # the 5 planted near-dups qualify
    assert (g.a == w.a).all() and (g.b == w.b).all()
    assert (g.cos_sim == w.cos_sim).all()  # bitwise: same sequential order


def test_threshold_pairs_blocked_equals_single(spark, vecs):
    """n_blocks > 1 partitions the matrix side into per-pass broadcasts
    (bounded memory) — the output must be IDENTICAL to the single-broadcast
    form: same pairs, bitwise-same cos values. Block count deliberately
    exceeds nothing-special divisors (rows % 3 != 0) and one block can be
    near-empty."""
    from pyppi_spark.operators.similarity import threshold_pairs_exact

    one = threshold_pairs_exact(vecs, threshold=0.9, dim=DIM).toPandas()
    for nb in (3, 8):
        blk = threshold_pairs_exact(vecs, threshold=0.9, dim=DIM, n_blocks=nb).toPandas()
        g = one.sort_values(["a", "b"]).reset_index(drop=True)
        w = blk.sort_values(["a", "b"]).reset_index(drop=True)
        assert len(g) == len(w) and len(g) >= 5
        assert (g.a == w.a).all() and (g.b == w.b).all()
        assert (g.cos_sim == w.cos_sim).all()


def test_threshold_pairs_auto_blocks_from_budget(spark, vecs):
    """n_blocks=None sizes itself from a cheap count: a forced-small
    block budget must select > 1 block (never a single unbounded
    broadcast) and the output must equal the single-block run exactly."""
    import math

    from pyppi_spark.operators.similarity import threshold_pairs_exact

    n = vecs.count()
    budget = n * DIM * 8 // 2  # ~2x the matrix bytes estimate -> ceil = 4
    expected_blocks = math.ceil(2 * n * DIM * 8 / budget)
    assert expected_blocks > 1

    one = threshold_pairs_exact(vecs, threshold=0.9, dim=DIM, n_blocks=1).toPandas()
    auto = threshold_pairs_exact(
        vecs, threshold=0.9, dim=DIM, block_budget_bytes=budget
    ).toPandas()
    g = one.sort_values(["a", "b"]).reset_index(drop=True)
    w = auto.sort_values(["a", "b"]).reset_index(drop=True)
    assert len(g) == len(w) and len(g) >= 5
    assert (g.a == w.a).all() and (g.b == w.b).all()
    assert (g.cos_sim == w.cos_sim).all()


def test_threshold_pairs_blocked_empty(spark):
    from pyppi_spark.operators.similarity import threshold_pairs_exact

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = threshold_pairs_exact(empty, threshold=0.5, dim=4, n_blocks=4)
    assert out.count() == 0 and out.columns == ["a", "b", "cos_sim"]


def test_ivf_pq_topk_recall_and_cell_pruning(spark):
    """IVFADC (IVF + residual-PQ): deterministic training, one
    zero-shuffle encode kernel emitting (cell, codes), probe-limited ADC
    search whose exact-rerank form recovers the brute-force top-k."""
    from pyppi_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_encode,
        ivf_pq_topk,
        train_ivf_pq_from_file,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    queries = emb.where(F.col("vec_id") < 5)

    cent, books = train_ivf_pq_from_file(path, n_centroids=16, m=16, n_codes=32, sample_rows=2000, seed=42)
    cent2, books2 = train_ivf_pq_from_file(path, n_centroids=16, m=16, n_codes=32, sample_rows=2000, seed=42)
    assert (cent == cent2).all() and (books == books2).all()

    index = ivf_pq_encode(emb, cent, books)
    plan = index._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    index.persist()
    cells = index.select("cell").distinct().count()
    assert cells > 4  # the quantizer actually partitions the corpus

    exact = brute_force_topk(queries, emb, k=10).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)

    adc = ivf_pq_topk(queries, index, cent, books, k=10, n_probe=8).toPandas()
    a = adc.groupby("query_id")["neighbor_id"].apply(set)
    recall = np.mean([len(e[q] & a.get(q, set())) / 10 for q in e.index])
    assert recall >= 0.5, f"IVFADC recall@10 too low: {recall}"  # measured 0.58 with the IP-correct LUT (the residual-LUT bug scored q*v - c*r and only reached ~0.4)

    rr = ivf_pq_topk(
        queries, index, cent, books, k=10, n_probe=8, rerank=emb, rerank_factor=4
    ).toPandas()
    r = rr.groupby("query_id")["neighbor_id"].apply(set)
    recall_rr = np.mean([len(e[q] & r.get(q, set())) / 10 for q in e.index])
    assert recall_rr >= recall and recall_rr >= 0.7, f"rerank recall: {recall_rr}"
    merged = rr.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_pq", "_ex"))
    assert np.allclose(merged["cos_sim_pq"], merged["cos_sim_ex"], atol=1e-9)
    index.unpersist()


def test_train_ivf_pq_from_file_deterministic():
    """The file-pinned IVFADC trainer (no Spark session) is a pure
    function of (parquet path, params): right shapes, run-to-run
    identical — the property the ann_ivf_pq SQL oracle relies on to
    inline centroids and codebooks as literals."""
    from pyppi_spark.operators.similarity import train_ivf_pq_from_file

    path = "/root/testdata/sf0.001/embeddings.parquet"
    c1, b1 = train_ivf_pq_from_file(path, n_centroids=8, m=8, n_codes=16, seed=42)
    c2, b2 = train_ivf_pq_from_file(path, n_centroids=8, m=8, n_codes=16, seed=42)
    assert c1.shape == (8, 64) and b1.shape == (8, 16, 8)
    assert (c1 == c2).all() and (b1 == b2).all()
    c3, _ = train_ivf_pq_from_file(path, n_centroids=8, m=8, n_codes=16, seed=7)
    assert not (c1 == c3).all()


def test_ivf_pq_index_partition_pruning(spark, tmp_path):
    """The cell-partitioned index layout turns probe selection into
    storage-level partition pruning: the search plan's scan carries a
    PartitionFilters predicate on cell, and results equal the in-memory
    index search exactly."""
    from pyppi_spark.operators.similarity import (
        ivf_pq_encode,
        ivf_pq_topk,
        read_ivf_pq_index,
        train_ivf_pq_from_file,
        write_ivf_pq_index,
    )

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    queries = emb.where(F.col("vec_id") < 3)
    cent, books = train_ivf_pq_from_file(path, n_centroids=16, m=16, n_codes=32, sample_rows=2000, seed=42)
    index = ivf_pq_encode(emb, cent, books)
    index_path = str(tmp_path / "ivfpq_index")
    write_ivf_pq_index(index, index_path)

    stored = read_ivf_pq_index(spark, index_path)
    out = ivf_pq_topk(queries, stored, cent, books, k=5, n_probe=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]

    mem = ivf_pq_topk(queries, index, cent, books, k=5, n_probe=4).toPandas()
    got = out.toPandas()
    key = ["query_id", "rk"]
    assert got.sort_values(key).reset_index(drop=True).equals(
        mem.sort_values(key).reset_index(drop=True)
    )


def test_semantic_dedup_planted_and_strategies(spark, vecs, vecs_path):
    """SemDeDup: planted near-identical vectors (30..34 ~ 0..4) land in
    the same k-means cell and pair above threshold; survivors keep the
    min id per component; blas and expr assignment agree exactly; the
    candidate join is an equi join on the cell id (no BNLJ)."""
    from pyppi_spark.operators.dedup import near_dedup_representatives
    from pyppi_spark.operators.similarity import semantic_dedup_pairs

    cents = train_centroids_from_file(vecs_path, n_centroids=4, sample_rows=40, seed=1)
    p_blas = semantic_dedup_pairs(
        vecs, cents, threshold=0.99, dim=DIM, assign_strategy="blas"
    )
    p_expr = semantic_dedup_pairs(
        vecs, cents, threshold=0.99, dim=DIM, assign_strategy="expr"
    )
    rows_b = sorted((r.a, r.b, r.cos_sim, r.cell) for r in p_blas.collect())
    rows_e = sorted((r.a, r.b, r.cos_sim, r.cell) for r in p_expr.collect())
    assert rows_b == rows_e
    # the 5 planted pairs are recalled (perturbation 0.01 ⇒ cos ≈ 1, and
    # a near-identical twin cannot straddle a cell boundary)
    planted = {(i, i + 30) for i in range(5)}
    got = {(a, b) for a, b, _, _ in rows_b}
    assert planted <= got
    surv = near_dedup_representatives(vecs, p_blas.select("a", "b"), id_col="vec_id")
    ids = sorted(r.vec_id for r in surv.select("vec_id").collect())
    assert set(ids).isdisjoint({a + 30 for a, b in planted if (a, a + 30) in got})
    assert {0, 1, 2, 3, 4} <= set(ids)
    # physical shape: equi join on the cell key, never a nested loop
    plan = p_blas._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan

    # unknown strategy fails loudly
    with pytest.raises(ValueError):
        semantic_dedup_pairs(vecs, cents, threshold=0.9, dim=DIM, assign_strategy="x")
    with pytest.raises(ValueError):
        semantic_dedup_pairs(vecs, cents, threshold=0.9)
