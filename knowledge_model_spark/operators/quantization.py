"""Product quantization (PQ) ANN: codebook training, encoding, and
asymmetric-distance (ADC) top-k with exact re-rank.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011) — the memory-compression scale path FAISS's
IVFPQ indexes use: a d-dim float vector becomes ``m`` small codes
(default 8 codes × 5 bits ≈ 50× smaller than float32), so a 100 TB
embedding corpus's quantized form fits in cluster RAM and the exact
vectors are only touched for the final shortlist.

Spark-first shape:

- **Training** reuses the deterministic k-means recipe proved out by
  semantic dedup (operators/dedup.py::semantic_dedup_pairs):
  content-addressed seeds (smallest md5(id)), Lloyd updates as ONE
  Arrow pass per iteration emitting per-batch (subspace, code, Σsub,
  n) partials — no per-dimension posexplode shuffle; the driver folds
  ≤ partitions·m·ksub bounded rows in sorted order.  All m subspaces
  train in the same pass, and L2 normalization happens inside the
  kernels (the JVM transform-lambda normalize re-evaluates its norm
  aggregate per element).
- **Encoding** is a vectorized Arrow kernel (numpy argmin per
  subspace, first-occurrence tiebreak) — the codes table is the only
  thing the search shuffles.
- **ADC scoring** stays in the JVM: per query a lookup table of
  m·ksub inner products ⟨q_sub, centroid⟩ is computed driver-side
  (the query batch is small by the same broadcast contract as
  brute_force_top_k) and shipped as a literal array column; the score
  is `aggregate(transform(...), sum)` over code-indexed lookups —
  whole-stage codegen, no Python per row.
- **Refine**: ADC top (k·refine) shortlist joins back to the full
  vectors for an exact cosine re-rank — the standard PQ recipe that
  recovers near-exact recall while only ever reading full vectors for
  the shortlist.

The Lloyd-trained production paths are rows-only (per-Arrow-batch
float partial sums no other engine can reproduce); since r8 the
UNTRAINED md5-seeded variant is the driver-certifiable twin
(``ann_pq_topk_md5``: n_iter=0 → codebooks are exactly the md5-smallest
rows' subvectors, and codes/ADC/refine are plain arithmetic DuckDB
mirrors end to end), and SQ8 — which has no hash and no Lloyd at all —
is oracle-checked directly.  All paths stay gated by recall ≥ 0.8 vs
the exact baseline and determinism tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf
from pyspark.sql.types import ArrayType, IntegerType



def _normalize_rows(X: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization (zero rows pass through unchanged) —
    normalization lives INSIDE the Arrow kernels here: the rows are
    already in numpy for encoding, so the normalize is a free
    vectorized step with no extra JVM expression work."""
    n = np.linalg.norm(X, axis=1)
    n[n == 0] = 1.0
    return X / n[:, None]


def _pq_codes_udf(codebooks: np.ndarray, normalize: bool = True):
    """raw vector column → array<int> of m codes (argmin L2 per subspace
    after in-kernel L2 normalization; idempotent on pre-normalized
    input).  ``normalize=False`` for residual vectors (IVFPQ), whose
    magnitude IS the signal."""
    M = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, _, dsub = M.shape

    @pandas_udf(ArrayType(IntegerType()))
    def enc(vs: pd.Series) -> pd.Series:
        X = np.stack(vs.to_numpy()).astype(np.float64)
        if normalize:
            X = _normalize_rows(X)
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for mi in range(m):
            sub = X[:, mi * dsub : (mi + 1) * dsub]
            # ||x - c||² argmin ≡ argmax(2⟨x,c⟩ - ||c||²); keep the
            # literal distance form — numpy argmin takes the FIRST
            # minimum, the deterministic tiebreak
            d2 = ((sub[:, None, :] - M[mi][None, :, :]) ** 2).sum(-1)
            codes[:, mi] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return enc


def _pq_lloyd_partials_kernel(codebooks: np.ndarray, normalize: bool = True):
    """mapInPandas kernel: per Arrow batch, normalize + encode against
    the broadcast codebooks and emit one (mi, code, Σsubvec, n) partial
    row per (subspace, code) present — all m subspaces in one corpus
    pass, no per-dimension posexplode shuffle."""
    M = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = M.shape

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            if normalize:
                X = _normalize_rows(X)
            rows = []
            for mi in range(m):
                sub = X[:, mi * dsub : (mi + 1) * dsub]
                d2 = ((sub[:, None, :] - M[mi][None, :, :]) ** 2).sum(-1)
                a = np.argmin(d2, axis=1)
                for c in np.unique(a):
                    mask = a == c
                    rows.append(
                        (mi, int(c), sub[mask].sum(axis=0).tolist(), int(mask.sum()))
                    )
            yield pd.DataFrame(rows, columns=["mi", "code", "s", "n"])

    return gen


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 2,
    normalize: bool = True,
) -> list:
    """Train m per-subspace codebooks of ksub centroids; returns a
    nested list (m × ksub × d/m) — plain data, broadcastable anywhere.

    Seeds are the ksub vectors with smallest md5(id) (content-addressed,
    rescale-stable); each Lloyd iteration is one corpus scan + an
    (m·ksub·dsub)-key partial-sum shuffle + a bounded driver fetch.
    Cells that lose all members keep their previous centroid.
    """
    # raw vectors; normalization happens inside the Arrow kernels,
    # where the rows are already numpy and the normalize is free
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seeds = (
        base.withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(ksub)
    )
    seed_rows = [r["v"] for r in seeds.collect()]
    if not seed_rows:
        return []  # empty corpus — callers return empty results
    seed_vecs = np.asarray(seed_rows, dtype=np.float64)
    if normalize:
        seed_vecs = _normalize_rows(seed_vecs)
    dim = seed_vecs.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # codebooks[mi] = the seed vectors' mi-th subvectors
    M = np.stack([seed_vecs[:, mi * dsub : (mi + 1) * dsub] for mi in range(m)])

    for _ in range(max(0, n_iter)):
        # ONE Arrow pass per iteration: encode + per-batch partial sums,
        # folded in sorted order on the driver (order-independent floats)
        stats = base.select("v").mapInPandas(
            _pq_lloyd_partials_kernel(M, normalize),
            "mi int, code int, s array<double>, n long",
        ).collect()  # ≤ partitions·m·ksub bounded rows
        sums = np.zeros_like(M)
        counts = np.zeros((m, M.shape[1]), dtype=np.int64)
        for r in sorted(stats, key=lambda r: (r["mi"], r["code"], r["n"], tuple(r["s"]))):
            sums[r["mi"], r["code"]] += np.asarray(r["s"], dtype=np.float64)
            counts[r["mi"], r["code"]] += r["n"]
        nz = counts > 0
        M[nz] = sums[nz] / counts[nz, None]
    return M.tolist()


def _empty_topk(corpus, queries, corpus_id, query_id):
    """Schema-correct empty (query_id, corpus_id, score, rank) result
    for degenerate inputs (empty corpus or query batch)."""
    return (
        queries.select(F.col(query_id))
        .limit(0)
        .crossJoin(corpus.select(F.col(corpus_id)).limit(0))
        .withColumn("score", F.lit(0.0))
        .withColumn("rank", F.lit(0))
    )


def pq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 10,
    m: int = 8,
    ksub: int = 32,
    refine: int = 24,
    codebooks: list | None = None,
    n_iter: int = 2,
) -> DataFrame:
    """PQ/ADC approximate cosine top-k per query with exact re-rank.

    ADC shortlist of k·refine by code-table lookups (JVM aggregate over
    a literal per-query LUT), then exact cosine on the shortlist only.
    The query batch is collected driver-side to build the LUTs — same
    small-batch contract as the broadcast in brute_force_top_k.
    """
    from knowledge_model_spark.session import spread_vectors

    if codebooks is None:
        codebooks = pq_train(corpus, corpus_id, corpus_vec, m, ksub, n_iter)
    if not codebooks:
        return _empty_topk(corpus, queries, corpus_id, query_id)
    M = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = M.shape

    base = spread_vectors(corpus).select(
        F.col(corpus_id), F.col(corpus_vec).alias("__cv")
    )
    codes = base.withColumn("__codes", _pq_codes_udf(M)(F.col("__cv")))

    q_rows = queries.select(
        F.col(query_id), F.col(query_vec).alias("__qv")
    ).collect()  # small query batch by contract
    if not q_rows:
        return _empty_topk(corpus, queries, corpus_id, query_id)
    lut_rows = []
    qnorm: dict = {}
    for r in q_rows:
        qv = _normalize_rows(np.asarray([r["__qv"]], dtype=np.float64))[0]
        qnorm[r[query_id]] = qv
        lut = np.concatenate(
            [M[mi] @ qv[mi * dsub : (mi + 1) * dsub] for mi in range(m)]
        )
        lut_rows.append((r[query_id], [float(x) for x in lut]))
    spark = corpus.sparkSession
    luts = spark.createDataFrame(lut_rows, [query_id, "__lut"])

    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda mi: F.element_at(
                "__lut", mi * ksub + F.element_at("__codes", mi + 1) + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = codes.crossJoin(broadcast(luts)).select(
        F.col(query_id), F.col(corpus_id), F.col("__cv"), adc.alias("__adc")
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("__adc").desc(), F.col(corpus_id).asc()
    )
    shortlist = scored.withColumn("__r", F.row_number().over(w_short)).filter(
        F.col("__r") <= k * refine
    )

    qdf = broadcast(
        spark.createDataFrame(
            [(qid, [float(x) for x in vec]) for qid, vec in sorted(qnorm.items())],
            [query_id, "__qv"],
        )
    )

    # Exact re-rank in the JVM (sq8_top_k's shape): the shortlist is
    # k·refine rows per query — tiny by contract — so a zip_with/
    # aggregate dot costs less than an Arrow round trip, and because
    # EvalPythonExec drops outputPartitioning, the former pandas-UDF
    # rescore forced a SECOND query_id exchange before the final
    # window.  JVM expressions keep the shortlist window's
    # partitioning, so the final top-k needs no exchange (guide §2.4,
    # §4.1).  Fold order matches the DuckDB oracle's sequential sum
    # (the same dot/l2_normalize the directly-oracled sq8 path uses).
    from knowledge_model_spark.functions.vectors import dot, l2_normalize

    rescored = shortlist.join(qdf, query_id).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(dot(l2_normalize(F.col("__cv")), F.col("__qv")), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _residual_kernel(coarse: np.ndarray, n_assign: int = 1):
    """mapInPandas kernel: (id, v) → one row per assigned cell:
    (id, cell, v, r).  L2-normalize, assign the ``n_assign`` nearest
    coarse centroids by L2 (stable argsort, first-occurrence tiebreak —
    the SAME rule the coarse training kernel used), residual computed
    against EACH assigned cell's centroid.  Multi-assignment (the same
    lever as ivf_top_k's) closes the Voronoi-boundary miss at
    n_assign× index size."""
    C = np.asarray(coarse, dtype=np.float64)
    a = max(1, min(n_assign, C.shape[0]))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _normalize_rows(np.stack(pdf["v"].to_numpy()).astype(np.float64))
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            order = np.argsort(d2, axis=1, kind="stable")[:, :a]
            frames = []
            for ai in range(a):
                cells = order[:, ai]
                frames.append(
                    pd.DataFrame(
                        {
                            "id": pdf["id"].to_numpy(),
                            "cell": cells.astype("int32"),
                            "v": list(X),
                            "r": list(X - C[cells]),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return gen


def ivfpq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 6,
    n_assign: int = 3,
    m: int = 8,
    ksub: int = 32,
    refine: int = 24,
    n_iter: int = 2,
    seed_unique_residuals: bool = False,
) -> DataFrame:
    """FAISS-IVFPQ-shaped composite index: coarse k-means cells + PQ
    codes of the RESIDUAL (v − centroid), probed ADC, exact re-rank.

    ``seed_unique_residuals`` (r8, the certification twin's knob):
    residual-codebook seeds order by md5 of ``id#cell`` instead of
    md5(id).  The production seeding ties across the ``n_assign``
    residual rows that share one id (harmless under Lloyd, which
    washes seeds out), but with ``n_iter=0`` the seeds ARE the
    codebooks, so the twin needs a total order both engines can
    reproduce — see ``ann_ivfpq_topk_md5``.

    Why the composition beats either part alone at 100 TB: IVF's cell
    pruning means a query touches n_probe/n_cells of the codes table
    (which partition-prunes if the codes table is written partitioned
    by cell), and PQ-on-residuals quantizes a far tighter distribution
    than PQ-on-vectors (the cell centroid absorbs the coarse position,
    so the same m×ksub code budget buys much lower distortion — the
    IVFADC recipe of Jégou et al. TPAMI'11 §V).

    Scoring uses the inner-product decomposition
    ⟨q, v⟩ = ⟨q, c_cell⟩ + ⟨q, r⟩ ≈ qc + Σ_mi LUT[mi][code_mi]:
    the per-query LUT is built from q's SLICES (not residuals), so one
    LUT serves every probed cell; only the scalar qc differs per
    (query, cell).  Everything downstream of the two k-means trainings
    is the pq_top_k machinery: broadcast (cell, qc, LUT) rows, JVM ADC
    in whole-stage codegen, k·refine shortlist, exact cosine re-rank.

    Deterministic end-to-end (content-addressed seeds, argmin
    first-occurrence tiebreaks, sorted partial folds); recall-gated vs
    the exact baseline in tests — not oracle-expressible, like LSH/IVF.
    """
    from knowledge_model_spark.session import spread_vectors

    # 1) coarse centroids — full-vector k-means IS pq_train with m=1
    coarse_cb = pq_train(corpus, corpus_id, corpus_vec, m=1, ksub=n_cells,
                         n_iter=n_iter, normalize=True)
    if not coarse_cb:
        return _empty_topk(corpus, queries, corpus_id, query_id)
    coarse = np.asarray(coarse_cb)[0]  # (n_cells, d)
    dim = coarse.shape[1]

    base = spread_vectors(corpus).select(
        F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v")
    )
    resid = base.mapInPandas(
        _residual_kernel(coarse, n_assign),
        f"id {dict(corpus.dtypes)[corpus_id]}, cell int, "
        "v array<double>, r array<double>",
    )
    # the residual frame feeds PQ training (n_iter passes) AND encoding:
    # materialize it once (an eager localCheckpoint, which leaves no cache
    # entry) or every pass re-runs the assignment kernel over the corpus
    resid = resid.localCheckpoint(eager=True)

    # 2) residual codebooks (NO normalization — residual magnitude is
    # the signal)
    if seed_unique_residuals:
        resid_seed_src = resid.withColumn(
            "uid",
            F.concat_ws(
                "#", F.col("id").cast("string"), F.col("cell").cast("string")
            ),
        )
        Mr = np.asarray(
            pq_train(resid_seed_src, "uid", "r", m=m, ksub=ksub,
                     n_iter=n_iter, normalize=False)
        )
    else:
        Mr = np.asarray(
            pq_train(resid, "id", "r", m=m, ksub=ksub, n_iter=n_iter,
                     normalize=False)
        )
    dsub = dim // m
    codes = resid.select(
        "id", "cell", "v", _pq_codes_udf(Mr, normalize=False)(F.col("r")).alias("__codes")
    )

    # 3) query side: probe the n_probe nearest cells (same L2 rule),
    # one LUT per query from q's slices, one qc scalar per (query, cell)
    q_rows = queries.select(
        F.col(query_id), F.col(query_vec).alias("__qv")
    ).collect()
    if not q_rows:
        return _empty_topk(corpus, queries, corpus_id, query_id)
    probe_rows = []
    qn_rows = []
    for rrow in q_rows:
        qn = _normalize_rows(np.asarray([rrow["__qv"]], dtype=np.float64))[0]
        qn_rows.append((rrow[query_id], [float(x) for x in qn]))
        lut = np.concatenate(
            [Mr[mi] @ qn[mi * dsub : (mi + 1) * dsub] for mi in range(m)]
        )
        d2 = ((qn[None, :] - coarse) ** 2).sum(-1)
        cells = np.argsort(d2, kind="stable")[:n_probe]
        for c in cells:
            probe_rows.append(
                (
                    rrow[query_id],
                    int(c),
                    float(qn @ coarse[c]),
                    [float(x) for x in lut],
                )
            )
    spark = corpus.sparkSession
    probed = spark.createDataFrame(
        probe_rows, [query_id, "cell", "__qc", "__lut"]
    )

    adc = F.col("__qc") + F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda mi: F.element_at(
                "__lut", mi * ksub + F.element_at("__codes", mi + 1) + 1
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = codes.join(broadcast(probed), "cell").select(
        F.col(query_id), F.col("id").alias(corpus_id), F.col("v"), adc.alias("__adc")
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("__adc").desc(), F.col(corpus_id).asc()
    )
    shortlist = scored.withColumn("__r", F.row_number().over(w_short)).filter(
        F.col("__r") <= k * refine
    )

    qdf = broadcast(spark.createDataFrame(qn_rows, [query_id, "__qn"]))

    # multi-assignment can surface the same (query, id) via several
    # cells; v is the id's (normalized) vector in every copy and the
    # exact score is pair-determined, so deduping BEFORE the re-rank is
    # value-identical — and cheaper twice over: fewer rows are scored,
    # and the dedup aggregate sits directly on the shortlist window's
    # query_id partitioning (subset of its grouping keys → no
    # exchange), whereas after the former pandas-UDF rescore it needed
    # its own (query_id, vec_id) shuffle because EvalPythonExec drops
    # outputPartitioning.  The JVM dot then keeps that partitioning
    # into the final window (0 further exchanges; guide §2.4, §4.1);
    # fold order matches the DuckDB oracle's sequential sum.
    from knowledge_model_spark.functions.vectors import dot

    rescored = (
        shortlist.dropDuplicates([query_id, corpus_id])
        .join(qdf, query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.round(dot(F.col("v"), F.col("__qn")), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def sq8_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 10,
    refine: int = 8,
) -> DataFrame:
    """Scalar-quantized (SQ8, FAISS ScalarQuantizer shape) cosine top-k:
    each dimension of the L2-normalized corpus compresses to one uint8
    against per-dimension [min, max] trained from the corpus — 4×
    smaller than float32 with near-exact recall after re-rank.

    Unlike PQ (numpy codebook kernels), EVERYTHING here is JVM
    higher-order functions — train (per-dim min/max via one zip_with
    fold aggregation), encode (affine clamp-round per dim), and
    asymmetric scoring (dequantize-and-dot against the float query) all
    run in whole-stage codegen with zero Python; the 100 TB scan never
    crosses the Arrow boundary.  Shortlist of k·refine by approximate
    dot, exact cosine re-rank on the shortlist only.

    Oracled directly since r8 (min/max train is order-independent and
    the affine encode / ordered-fold dot are cross-engine-identical
    arithmetic); also recall-gated vs brute force in
    tests/test_quantization.py.
    """
    from knowledge_model_spark.functions.vectors import dot, l2_normalize
    from knowledge_model_spark.session import spread_vectors

    spark = corpus.sparkSession
    base = spread_vectors(corpus).select(
        F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cv")
    )
    # train: per-dimension min/max via posexplode + groupBy(dim) —
    # map-side combine shrinks the shuffle to (partitions × d) rows, and
    # the driver receives exactly d rows (never corpus vectors; the
    # collect_list-fold alternative would materialize the whole corpus
    # in one aggregation buffer)
    dim_rows = (
        base.select(F.posexplode("__cv").alias("__d", "__v"))
        .groupBy("__d")
        .agg(F.min("__v").alias("mn"), F.max("__v").alias("mx"))
        .orderBy("__d")
        .collect()
    )
    if not dim_rows:
        return _empty_topk(corpus, queries, corpus_id, query_id)
    mins = np.asarray([r["mn"] for r in dim_rows], dtype=np.float64)
    maxs = np.asarray([r["mx"] for r in dim_rows], dtype=np.float64)
    scale = np.where(maxs > mins, (maxs - mins) / 255.0, 1.0)
    mins_c = F.lit(mins.tolist()).cast("array<double>")
    scale_c = F.lit(scale.tolist()).cast("array<double>")

    # encode: code_d = round((v_d - min_d)/scale_d) clamped to [0,255]
    codes_col = F.zip_with(
        F.col("__cv"),
        F.zip_with(mins_c, scale_c, lambda mn, sc: F.struct(mn.alias("mn"), sc.alias("sc"))),
        lambda v, ms: F.greatest(
            F.lit(0),
            F.least(F.lit(255), F.round((v - ms["mn"]) / ms["sc"]).cast("int")),
        ),
    )
    codes = base.withColumn("__codes", codes_col)

    qdf = broadcast(
        queries.select(
            F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qv")
        )
    )
    # asymmetric score: dot(q, min + code*scale) — dequantize inline
    recon = F.zip_with(
        F.col("__codes"),
        F.zip_with(mins_c, scale_c, lambda mn, sc: F.struct(mn.alias("mn"), sc.alias("sc"))),
        lambda c, ms: ms["mn"] + c.cast("double") * ms["sc"],
    )
    scored = codes.crossJoin(qdf).select(
        F.col(query_id),
        F.col(corpus_id),
        F.col("__cv"),
        F.col("__qv"),
        dot(recon, F.col("__qv")).alias("__approx"),
    )
    w_short = Window.partitionBy(query_id).orderBy(
        F.col("__approx").desc(), F.col(corpus_id).asc()
    )
    shortlist = scored.withColumn("__r", F.row_number().over(w_short)).filter(
        F.col("__r") <= k * refine
    )
    rescored = shortlist.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(dot(F.col("__cv"), F.col("__qv")), 6).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
