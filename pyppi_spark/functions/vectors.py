"""Vector column math over ``array<float>`` embeddings.

The reference's pairwise numeric kernels (squared distance
``/root/reference/pyPPI/atom.py:48-60``, Coulomb
``/root/reference/pyPPI/electrostat.py:41-43``) are the geometric ancestors;
here the vectors are embeddings and the kernel is cosine similarity.

Formulation note (MEASURED, see BENCH/BASELINE.md): the higher-order fold
(``aggregate``/``zip_with``) BEATS a fully unrolled
``a[1]*b[1] + … + a[64]*b[64]`` codegen expression by 3-6× on 64-dim
doubles. The unrolled form generates methods past HotSpot's
``DontCompileHugeMethods`` bytecode limit, so it runs in the *bytecode*
interpreter — slower than Spark's expression interpreter evaluating a tight
fold loop. (The repo's earlier "HOFs are ~10× slower" finding holds for
string-array ``transform`` pipelines — MinHash shingles — not for numeric
folds.) The truly fast path for bulk pairwise scoring is dense BLAS via
``mapInPandas`` — see ``operators/similarity.threshold_pairs_exact``.

All folds sum left-associated in element order — bitwise-identical to
DuckDB's ``list_dot_product`` sequential loop, so oracle hashes are stable.
``dim`` parameters are accepted for API stability; the fold ignores them.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    """``dot`` as SQL text over two array expressions — the same left fold,
    for plans built from one SQL expression per column."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS double) * CAST(y AS double)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def literal_vector(values) -> Column:
    """A constant vector as an array literal (LSH plane / IVF centroid)."""
    return F.array(*[F.lit(float(v)) for v in values])


def dot_literal(vec: Column, values) -> Column:
    """Dot product against a constant vector."""
    return dot(vec, literal_vector(values))
