"""Johnson-Lindenstrauss random projection for embedding columns.

Reference parity: the reference embeds to a fixed 1536-dim space and
pays FAISS index cost linear in dimension (build_faiss.py:69-85,
faiss_query.py:33-41).  A JL sign projection is the standard public
technique (Achlioptas 2003, "Database-friendly random projections") for
shrinking that cost: k = O(log n / eps^2) sign-combined dimensions
preserve pairwise distances within (1 +/- eps), so ANN shortlists can be
built on the projected vectors and re-ranked exactly on the originals.

Spark-first design: the projection matrix is CONTENT-ADDRESSED, not
random state — sign(d, j) = +1 iff the first hex nibble of
md5("jl:<d>:<j>") is even.  The matrix is materialized ONCE at plan
construction (driver side, pure hashlib) and inlined as literal
coefficients, so the whole operator compiles to whole-stage-codegen
arithmetic: proj_j = (sum_d sign(d,j) * v[d]) / sqrt(k).  Zero shuffle,
zero Python at execution time, identical output for any partitioning —
and the SAME literals parameterize the DuckDB oracle, so the arithmetic
(an explicit left-to-right addition chain in both engines) is
bit-identical cross-engine.

At 100 TB: a scan-speed map over the corpus; the downstream win is that
every distance computation (brute-force scoring, IVF assignment, pair
verification) runs on k doubles instead of d floats.
"""

from __future__ import annotations

import hashlib
import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def jl_sign(d: int, j: int) -> int:
    """Content-addressed Rademacher sign: +/-1 from md5("jl:d:j")."""
    nibble = int(hashlib.md5(f"jl:{d}:{j}".encode()).hexdigest()[0], 16)
    return 1 if nibble % 2 == 0 else -1


def jl_sign_matrix(in_dim: int, out_dim: int) -> list[list[int]]:
    """out_dim rows of in_dim signs — row j projects output dimension j."""
    return [[jl_sign(d, j) for d in range(in_dim)] for j in range(out_dim)]


def _proj_expr(vec_col: str, signs: list[int], scale: float) -> Column:
    """Explicit left-to-right sign-combination of vector elements.

    Built as ((v0*s0 + v1*s1) + v2*s2) + ... so the fold order is the
    textual order in BOTH engines — a tree or reordered sum would give
    a different last ulp.  Spark SQL indexing is 0-based; the SQL twin
    uses 1-based indexing (DuckDB arrays).

    The whole chain is ONE ``F.expr`` string parsed JVM-side: the
    previous Column-arithmetic form issued ~3 py4j round-trips per term
    (getItem, negate, add — ~1500 calls for a 64×8 projection) and
    spent 3-4 s of DRIVER time building the plan before a 0.4 s
    execution.  SQL ``+``/``-`` are left-associative and ``a - b`` is
    IEEE-identical to ``a + (-b)``, so the parsed tree folds in exactly
    the same order as the old chain (bit-identity gated in
    tests/test_projection.py).
    """
    parts = []
    for d, s in enumerate(signs):
        term = f"CAST({vec_col}[{d}] AS DOUBLE)"
        if not parts:
            parts.append(term if s > 0 else f"(- {term})")
        else:
            parts.append(f"{'+' if s > 0 else '-'} {term}")
    chain = " ".join(parts)
    return F.expr(f"({chain}) * {scale!r}D")


MAX_CODEGEN_TERMS = 4096  # add-chain terms before Janino method limits loom


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    max_codegen_terms: int = MAX_CODEGEN_TERMS,
) -> DataFrame:
    """Append out_dim JL-projected double columns ``proj_0``… to df.

    Flat columns (not an array) keep the result canon-safe for
    value-hash comparison and let downstream plans prune to the
    projected dims they use.

    The inlined-literal form generates ``in_dim × out_dim`` addition
    terms in ONE projection — past a few thousand terms the generated
    Java method brushes Janino/JVM limits (64 KB bytecode per method)
    and compilation either falls back to interpreted expressions or
    fails outright.  Above ``max_codegen_terms`` the operator therefore
    switches to an Arrow-batched pandas kernel that applies the SAME
    content-addressed matrix with the SAME left-to-right float64 fold
    (sequential accumulation over d, vectorized over rows), so both
    paths are bit-identical — parity + boundary gated in
    tests/test_projection.py.
    """
    if in_dim * out_dim > max_codegen_terms:
        return _jl_project_pandas(df, vec_col, in_dim, out_dim)
    signs = jl_sign_matrix(in_dim, out_dim)
    scale = 1.0 / math.sqrt(out_dim)
    cols = [
        _proj_expr(vec_col, signs[j], scale).alias(f"proj_{j}")
        for j in range(out_dim)
    ]
    return df.select("*", *cols)


def _jl_project_pandas(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
) -> DataFrame:
    """Arrow-batched twin of the codegen path for large dim products.

    Accumulates sequentially over input dims (NOT numpy pairwise ``dot``
    — pairwise summation reorders the fold and drifts in the last ulp),
    so output is bit-identical to the literal add-chain.
    """
    signs = jl_sign_matrix(in_dim, out_dim)
    scale = 1.0 / math.sqrt(out_dim)

    @F.pandas_udf("array<double>")
    def proj(vecs: pd.Series) -> pd.Series:
        import numpy as np

        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64
        )
        if X.size == 0:
            return pd.Series([], dtype=object)
        out = np.empty((X.shape[0], out_dim), dtype=np.float64)
        for j in range(out_dim):
            row = signs[j]
            acc = X[:, 0] if row[0] > 0 else -X[:, 0]
            for d in range(1, in_dim):
                acc = acc + (X[:, d] if row[d] > 0 else -X[:, d])
            out[:, j] = acc * scale
        return pd.Series(list(out))

    tmp = "__jl_proj"
    projected = df.withColumn(tmp, proj(F.col(vec_col)))
    cols = [F.col(tmp)[j].alias(f"proj_{j}") for j in range(out_dim)]
    return projected.select(*df.columns, *cols)


def jl_project_sql(
    vec_expr: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
) -> str:
    """The DuckDB twin: same literals, same textual fold order.

    DuckDB list indexing is 1-based; elements cast to DOUBLE before the
    chain so float32 widening happens at the same point as Spark's.
    """
    signs = jl_sign_matrix(in_dim, out_dim)
    scale = repr(1.0 / math.sqrt(out_dim))
    outs = []
    for j in range(out_dim):
        terms = []
        for d, s in enumerate(signs[j]):
            t = f"CAST({vec_expr}[{d + 1}] AS DOUBLE)"
            terms.append(t if s > 0 else f"-{t}")
        chain = " + ".join(terms)
        outs.append(f"({chain}) * {scale} AS proj_{j}")
    return ",\n           ".join(outs)


def zca_whitening_audit(
    emb: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """ZCA whitening of an embedding column with an in-plan audit — the
    standard preprocessing before cosine-sensitive ANN/dedup when the
    embedding model leaves correlated dimensions (W = U diag(1/√(λ+ε)) Uᵀ
    with ε = 1e-9, over the corpus covariance; ZCA = the whitening closest to identity,
    Bell & Sejnowski '97).

    Two distributed passes + one bounded driver step:
    pass 1 collects per-Arrow-batch moment partials (Σv, ΣvvT, n — a
    ~(dim²+dim+1)-float row per batch, summed on the driver in sorted
    batch order so the float fold is reproducible); the 64×64 eigh runs
    on the driver (bounded, like every ≤k collect here); pass 2 applies
    the broadcast W to every vector and re-accumulates the WHITENED
    moments the same way — proving the transform path end to end, not
    just algebra on the driver.  Output: one row per dimension with the
    whitened mean, variance (≈1), and that row's max |off-diagonal|
    covariance (≈0) — the audit a pipeline gates on before swapping the
    whitened table in.

    Scale shape: both passes are map-only (zero shuffle; the collect
    moves #batches × ~4 KB).  Determinism: fixed batch order per scan +
    sorted driver fold + deterministic LAPACK eigh on identical input.
    """
    import numpy as np

    from collections.abc import Iterator

    def partials(frames: Iterator[pd.DataFrame], transform=None, shift=None):
        def gen(batches):
            for bi, pdf in enumerate(batches):
                mat = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                if mat.size == 0:
                    continue
                if shift is not None:
                    mat = mat - shift
                if transform is not None:
                    mat = mat @ transform.T
                yield pd.DataFrame(
                    {
                        "part_key": pd.Series(
                            [f"{pdf[id_col].iloc[0]}#{bi}"], dtype="string"
                        ),
                        "n": pd.Series([len(mat)], dtype="int64"),
                        "s": [mat.sum(axis=0)],
                        "ss": [(mat.T @ mat).reshape(-1)],
                    }
                )

        return gen(frames)

    schema = "part_key string, n long, s array<double>, ss array<double>"

    def fold(rows):
        import numpy as np

        n = 0
        s = np.zeros(dim)
        ss = np.zeros((dim, dim))
        for r in sorted(rows, key=lambda r: r["part_key"]):
            n += r["n"]
            s = s + np.asarray(r["s"])
            ss = ss + np.asarray(r["ss"]).reshape(dim, dim)
        mean = s / n
        cov = ss / n - np.outer(mean, mean)
        return n, mean, cov

    part_rows = emb.mapInPandas(partials, schema).collect()
    spark = emb.sparkSession
    if not part_rows:  # empty corpus → empty audit, not a NaN eigh
        return spark.createDataFrame(
            [], "dim long, mean_w double, var_w double, max_abs_offdiag double"
        )
    n, mean, cov = fold(part_rows)
    lam, u = np.linalg.eigh(cov)
    # the E[vvT] − mean·meanT form can cancel to eigenvalues slightly
    # BELOW zero (−1e-8 beats −ε) — clamp before the sqrt or W goes NaN
    w = (u * (1.0 / np.sqrt(np.maximum(lam, 0.0) + 1e-9))) @ u.T

    def pass2(frames):
        # center THEN rotate executor-side: whitened = W(v − mean), so
        # the measured whitened mean is genuinely ≈0, not W·mean
        return partials(frames, transform=w, shift=mean)

    n2, mean_w, cov_w = fold(emb.mapInPandas(pass2, schema).collect())
    off = np.abs(cov_w - np.diag(np.diag(cov_w)))
    rows = [
        (int(d), float(mean_w[d]), float(cov_w[d, d]), float(off[d].max()))
        for d in range(dim)
    ]
    return spark.createDataFrame(
        rows, "dim long, mean_w double, var_w double, max_abs_offdiag double"
    )
