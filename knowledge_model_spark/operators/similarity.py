"""Similarity search over embedding columns.

Re-expresses the reference's FAISS retrieval (exact inner-product top-k
with overfetch + score threshold, reference:
knowledge_model/embeddings/vector_store.py:129-162) as DataFrame plans:

- brute-force exact top-k: broadcast the (small) query batch against the
  corpus, score JVM-side, per-query window top-k.  This is the correct
  baseline and the fidelity reference for every approximate variant.
- LSH-bucketed ANN (random hyperplane signs): corpus and queries map to
  buckets; only same-bucket pairs are scored.  Probe multiple flipped
  buckets for recall.  The 100 TB path: candidate scoring is linear in
  bucket occupancy, not corpus size.
- IVF-style ANN: k-means-free variant using deterministic seed centroids
  (hash-sampled corpus rows); corpus partitioned by nearest centroid,
  queries probe the ``n_probe`` nearest centroids.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from knowledge_model_spark.functions.vectors import dot, l2_normalize

# lsh_bucket_top_k's index geometry: LSH_TABLES hash tables of LSH_PLANES
# random hyperplanes over LSH_DIM-float vectors; each query also probes
# the LSH_PROBE_BITS lowest-margin sign flips per table.
LSH_TABLES = 8
LSH_PLANES = 6
LSH_DIM = 64
LSH_PROBE_BITS = 4


def brute_force_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 12,
    min_score: float | None = None,
    normalized: bool = False,
    round_scores: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, corpus_id, score, rank).

    ``round_scores=False`` ranks on the raw double instead of the
    6-dp-rounded score: rounding buckets distinct scores into 1e-6
    ties (broken by corpus_id), so a caller whose oracle ranks on
    unrounded similarity — e.g. embeddings_matryoshka_recall, where
    low-dim truncations make near-ties likely — must disable it to
    keep both engines picking the same top-k members.

    Plan shape: broadcast(queries) × corpus scan → score in codegen →
    window top-k partitioned by query.  No shuffle of the corpus; the
    only shuffle is the per-query top-k, whose input is already cut to
    candidate rows.  Mirrors IndexFlatIP.search + threshold + limit
    (reference: vector_store.py:129-162; k default 12 per
    vector_store.py:19, min_score 0.75 per :134).
    """
    from knowledge_model_spark.session import spread_vectors

    cv = F.col("__cv") if not normalized else F.col(corpus_vec)
    qv = F.col("__qv") if not normalized else F.col(query_vec)
    # single-split local scans would score the whole corpus on one core
    c = spread_vectors(corpus).select(F.col(corpus_id), F.col(corpus_vec))
    q = queries.select(F.col(query_id), F.col(query_vec))
    if not normalized:
        c = c.withColumn("__cv", l2_normalize(F.col(corpus_vec)))
        q = q.withColumn("__qv", l2_normalize(F.col(query_vec)))
    raw = dot(cv, qv)
    scored = c.crossJoin(broadcast(q)).select(
        F.col(query_id),
        F.col(corpus_id),
        (F.round(raw, 6) if round_scores else raw).alias("score"),
    )
    if min_score is not None:
        scored = scored.filter(F.col("score") >= min_score)
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


@lru_cache(maxsize=8)
def _hyperplane_probes_udf(n_tables: int, n_planes: int, dim: int, n_probe_bits: int):
    """Margin-guided multiprobe buckets: vector → flat array of
    n_tables × (1 + n_probe_bits) bucket ids.

    For each table the first entry is the home bucket; the rest flip the
    ``n_probe_bits`` sign bits with the SMALLEST projection magnitude —
    the bits a near-neighbor is most likely to disagree on.  Probing only
    low-margin bits buys ~all of Hamming-1 recall at a fraction of the
    candidate volume (flipping a high-margin bit lands in a bucket no
    true neighbor occupies).  Same seed as :func:`_hyperplane_buckets_udf`
    → identical planes, so probe buckets address the same corpus tables.
    Entry index // (1 + n_probe_bits) recovers the table id after
    posexplode.
    """
    rng = np.random.default_rng(424242)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def udf(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        proj = (mat @ planes.T).reshape(len(mat), n_tables, n_planes)
        bits = proj > 0
        buckets = (bits * weights[None, None, :]).sum(axis=2)  # (rows, T)
        order = np.argsort(np.abs(proj), axis=2)[:, :, :n_probe_bits]  # low margin
        flips = weights[order]  # (rows, T, nb) — XOR flips exactly that bit
        probes = np.concatenate(
            [buckets[:, :, None], buckets[:, :, None] ^ flips], axis=2
        )  # (rows, T, 1+nb)
        return pd.Series(list(probes.reshape(len(mat), -1)))

    return udf


@lru_cache(maxsize=8)
def _hyperplane_buckets_udf(n_tables: int, n_planes: int, dim: int):
    """Arrow-batched hyperplane LSH: vector → array of n_tables bucket ids.

    All n_tables × n_planes Gaussian projections happen as ONE numpy
    matmul per Arrow batch — vs thousands of interpreted HOF ops per row
    for the expression formulation (which CollapseProject additionally
    re-inlines per table).  Bucket signs are invariant to positive
    scaling, so the input need not be normalized.  Fixed-seed planes:
    deterministic across runs, partitionings, cluster sizes.
    """
    rng = np.random.default_rng(424242)
    planes = rng.standard_normal((n_tables * n_planes, dim))
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def udf(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        bits = (mat @ planes.T) > 0  # (rows, n_tables*n_planes)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        buckets = (bits * weights[None, None, :]).sum(axis=2)
        return pd.Series(list(buckets))

    return udf


def lsh_bucket_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 12,
) -> DataFrame:
    """Approximate cosine top-k: score only same-LSH-bucket pairs.

    ``LSH_TABLES`` independent hash tables (plane sets offset by table id)
    are unioned for recall; queries additionally probe, per table, the
    ``LSH_PROBE_BITS`` buckets reached by flipping their LOWEST-MARGIN sign
    bits (margin-guided multiprobe) — the bits a true neighbor most
    plausibly disagrees on.  r02 probed ALL ``LSH_PLANES`` bits (7× query
    bucket rows at 6 planes, the 1.8× bench regression); margin-guided
    probing at 4 bits is the measured knee: recall@10 vs
    exact = 0.81/0.80/0.84 at sf0.001/0.01/0.1 (vs 0.83/0.82/0.88 at all
    6 bits) for 5/7 of the candidate volume — full curve in PLANS.md.  Equi-join
    on (table, bucket) → candidate count ∝ bucket occupancy, not corpus
    size — the 100 TB path.  Candidates are scored BEFORE the per-pair
    dedup so the shuffle carries (query, id, score), not two 64-float
    vectors.  ``LSH_PLANES`` ≈ log2(corpus/desired_bucket_size).
    Recall is gated against brute_force_top_k by the eval harness
    (mirroring the reference's eval_snapshot.py:74-108, gate
    continuous.py:34-36) — registered as ``eval_ann_recall_vs_exact``.
    """
    from knowledge_model_spark.session import spread_vectors

    c = spread_vectors(corpus).select(
        F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cv")
    )
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qv"))

    bk = _hyperplane_buckets_udf(LSH_TABLES, LSH_PLANES, LSH_DIM)
    cb = c.select("*", F.posexplode(bk(F.col("__cv"))).alias("tbl", "bkt"))

    pk = _hyperplane_probes_udf(LSH_TABLES, LSH_PLANES, LSH_DIM, LSH_PROBE_BITS)
    per_table = 1 + LSH_PROBE_BITS
    qb = q.select("*", F.posexplode(pk(F.col("__qv"))).alias("pos", "bkt")).select(
        "*", (F.col("pos") / per_table).cast("int").alias("tbl")
    ).drop("pos")

    # Score map-side (64-mult dot per candidate), THEN dedup: the
    # max-aggregation collapses multi-table/multi-probe duplicates with a
    # slim 3-column shuffle instead of shipping both vectors per row.
    scored = (
        cb.join(broadcast(qb), ["tbl", "bkt"])
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.round(dot(F.col("__cv"), F.col("__qv")), 6).alias("score"),
        )
        .groupBy(query_id, corpus_id)
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucket_top_k_md5(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 12,
    n_planes: int = 6,
    dim: int = 64,
    n_tables: int = 12,
    n_probe_bits: int = 4,
) -> DataFrame:
    """Driver-certifiable twin of :func:`lsh_bucket_top_k` (r7 verdict
    item 1, the dedup-md5-twin pattern): the Gaussian hyperplanes have
    no DuckDB equivalent, so this variant draws RADEMACHER hyperplanes
    whose ±1 components are the parity of the content-addressed 60-bit
    md5 hash of ``"table-plane-dim"`` — a valid sign-LSH family
    (Achlioptas 2001 sparse/± projections preserve the random-
    hyperplane collision bound) that BOTH engines can generate from
    literals, making the entire bucket→multiprobe→candidate→exact-
    cosine-verify pipeline oracle-checkable end to end.

    Same structure and parameters as the production path: ``n_tables``
    independent tables unioned for recall, queries additionally probe
    the ``n_probe_bits`` LOWEST-|projection| sign flips per table
    (margin-guided multiprobe).  Differences are the certification
    trade, documented like ``dedup_minhash_lsh_md5``: plane projections
    are codegen'd array folds instead of one numpy matmul per Arrow
    batch (T×P×D multiply-adds per row), and bucketing runs over RAW
    embeddings cast to double (sign-LSH is scale-invariant; skipping
    the normalize keeps the cross-engine doubles bit-identical —
    float→double widening is exact).  xxhash64+Gaussian stays the
    100 TB default.

    The ±1 sign planes are content-addressed CONSTANTS (parity of
    md5("table-plane-dim"), the same digest Python's hashlib computes),
    so they are built driver-side and baked into an Arrow kernel that
    derives all ``n_tables`` corpus bucket ids per row in one pass —
    no corpus×planes row explosion and no (id, tbl) aggregation
    exchange.  The kernel accumulates each projection DIMENSION BY
    DIMENSION (vectorized across rows), i.e. the exact left-to-right
    fold 0.0 ± v_0 ± v_1 ± … that the JVM zip_with/aggregate dot and
    DuckDB's list_dot_product with a ±1 sign vector compute — with
    s_d = ±1.0 exactly, s_d·v_d is v_d / −v_d bit-for-bit, so bucket
    bits are engine-identical (a numpy MATMUL would sum pairwise and
    is NOT used).  The query side (a handful of rows by the broadcast
    contract) keeps the relational plane-table formulation for the
    margin-guided probe choice.
    """
    import hashlib

    from knowledge_model_spark.operators.dedup import md5_hash60
    from knowledge_model_spark.session import spread_vectors

    n_probe_bits = max(0, min(n_probe_bits, n_planes))

    def _sign(t: int, p: int, d: int) -> float:
        h = hashlib.md5(f"{t}-{p}-{d}".encode()).hexdigest()[:15]
        return 1.0 if int(h, 16) % 2 == 1 else -1.0

    sign_mat = np.asarray(
        [
            [_sign(t, p, d) for d in range(dim)]
            for t in range(n_tables)
            for p in range(n_planes)
        ]
    )  # (T*P, D) of ±1.0
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def md5_buckets(vecs: pd.Series) -> pd.Series:
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        n_rows = mat.shape[0]
        # sequential per-dimension accumulation — the same IEEE op
        # order as the relational fold; vectorized across rows only
        proj = np.zeros((n_rows, n_tables * n_planes))
        for d in range(dim):
            # acc = acc + (±1.0 · v_d), one dimension at a time: the
            # exact sequential fold, elementwise in IEEE double
            proj += mat[:, d][:, None] * sign_mat[None, :, d]
        bits = (proj > 0).reshape(n_rows, n_tables, n_planes)
        buckets = (bits * weights[None, None, :]).sum(axis=2)
        return pd.Series(list(buckets))

    c = spread_vectors(corpus).select(
        F.col(corpus_id), F.col(corpus_vec).cast("array<double>").alias("__cv")
    )
    q = queries.select(
        F.col(query_id), F.col(query_vec).cast("array<double>").alias("__qv")
    )

    # corpus: all home buckets in one Arrow pass — (id, tbl, bkt) rows
    # without a shuffle
    cb = c.select(
        F.col(corpus_id),
        F.posexplode(md5_buckets(F.col("__cv"))).alias("tbl", "bkt"),
    )

    # query side (tiny by contract): relational planes table, home
    # buckets + margin-guided probe flips exactly as before
    spark = corpus.sparkSession
    planes = spark.range(n_tables * n_planes).select(
        F.expr(f"CAST(id DIV {n_planes} AS INT)").alias("tbl"),
        F.expr(f"CAST(id % {n_planes} AS INT)").alias("plane"),
        F.expr(
            f"CAST(shiftleft(1, CAST(id % {n_planes} AS INT)) AS BIGINT)"
        ).alias("w"),
    ).select(
        "tbl",
        "plane",
        "w",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: F.when(
                md5_hash60(
                    F.concat_ws(
                        "-",
                        F.col("tbl").cast("string"),
                        F.col("plane").cast("string"),
                        d.cast("string"),
                    )
                )
                % 2
                == 1,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        ).alias("sign_vec"),
    )

    zero = F.lit(0).cast("long")
    qproj = q.crossJoin(broadcast(planes)).select(
        F.col(query_id),
        "tbl",
        "plane",
        "w",
        dot(F.col("sign_vec"), F.col("__qv")).alias("proj"),
    )
    qhome = qproj.groupBy(query_id, "tbl").agg(
        F.sum(F.when(F.col("proj") > 0, F.col("w")).otherwise(zero)).alias("home")
    )
    wm = Window.partitionBy(query_id, "tbl").orderBy(
        F.abs(F.col("proj")).asc(), F.col("plane").asc()
    )
    qflip = (
        qproj.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= n_probe_bits)
        .select(query_id, "tbl", "w")
    )
    qb = qhome.select(F.col(query_id), F.col("tbl"), F.col("home").alias("bkt")).unionByName(
        qflip.join(broadcast(qhome), [query_id, "tbl"]).select(
            F.col(query_id),
            F.col("tbl"),
            F.col("home").bitwiseXOR(F.col("w")).alias("bkt"),
        )
    )

    cand = (
        cb.join(broadcast(qb), ["tbl", "bkt"])
        .select(query_id, corpus_id)
        .distinct()
    )
    # candidate set is bounded by query-batch × bucket occupancy —
    # broadcast it and STREAM the corpus (the big side) through the
    # scoring join; without the hint the pre-AQE plan sort-merges
    scored = (
        c.join(broadcast(cand), corpus_id)
        .join(broadcast(q), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.round(
                dot(l2_normalize(F.col("__cv")), l2_normalize(F.col("__qv"))), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 12,
    n_centroids: int = 16,
    n_probe: int = 6,
    n_assign: int = 3,
    seed_hash: str = "xxhash64",
) -> DataFrame:
    """IVF-style ANN: deterministic hash-sampled centroids; corpus rows
    multi-assigned to their ``n_assign`` nearest centroids (recall lever —
    neighbors near list boundaries stay reachable at 2× index size);
    queries probe ``n_probe`` nearest lists.  Centroid table is tiny →
    broadcast everywhere; corpus shuffle is one repartition by centroid —
    amortizable across query batches.

    ``seed_hash`` picks the centroid-sampling hash: ``"xxhash64"`` (the
    100 TB default — one vectorized JVM hash) or ``"md5"`` (the 60-bit
    md5 prefix, bit-identical in DuckDB — the r8 certification twin;
    everything downstream of the seed is already SQL-expressible).
    """
    from knowledge_model_spark.session import spread_vectors

    c = spread_vectors(corpus).select(
        F.col(corpus_id), l2_normalize(F.col(corpus_vec)).alias("__cv")
    )
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qv"))

    # Deterministic "centroids": the n corpus vectors with smallest
    # hash(id) — a seedless uniform sample.
    if seed_hash == "md5":
        from knowledge_model_spark.operators.dedup import md5_hash60

        seed = md5_hash60(F.col(corpus_id).cast("string"))
    else:
        seed = F.xxhash64(F.col(corpus_id).cast("string"))
    cents = (
        c.withColumn("__h", seed)
        .orderBy("__h", corpus_id)
        .limit(n_centroids)
        .select(F.col(corpus_id).alias("cent_id"), F.col("__cv").alias("cent_vec"))
    )

    def nearest(df: DataFrame, vec: str, idc: str, n: int) -> DataFrame:
        scored = df.crossJoin(broadcast(cents)).withColumn(
            "__cs", dot(F.col(vec), F.col("cent_vec"))
        )
        w = Window.partitionBy(idc).orderBy(F.col("__cs").desc(), F.col("cent_id").asc())
        return (
            scored.withColumn("__cr", F.row_number().over(w))
            .filter(F.col("__cr") <= n)
            .drop("cent_vec", "__cs", "__cr")
        )

    c_assigned = nearest(c, "__cv", corpus_id, n_assign)
    q_assigned = nearest(q, "__qv", query_id, n_probe)
    scored = c_assigned.join(broadcast(q_assigned), "cent_id").select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(dot(F.col("__cv"), F.col("__qv")), 6).alias("score"),
    ).dropDuplicates([query_id, corpus_id])
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    corpus_label: str,
    query_id: str,
    query_vec: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the k
    highest-cosine corpus vectors whose label DIFFERS from the query's —
    the near-misses a bi-encoder learns the most from (the in-batch /
    mined-negative recipe of DPR and sentence-transformers training).

    The wrong-label filter runs BEFORE ranking (a negative that would
    rank 2nd overall must surface even when same-label positives fill
    the global top-k), which is why this is not brute_force_top_k + a
    post-filter.  Plan shape is the exact-scorer baseline: broadcast
    query batch × one corpus scan, JVM dot product in codegen, per-query
    WindowGroupLimit top-k — the corpus never shuffles beyond the
    candidate cut.  Queries are keyed by label (centroids), so
    query_id doubles as the label to exclude.
    """
    from knowledge_model_spark.session import spread_vectors

    c = spread_vectors(corpus).select(
        F.col(corpus_id),
        F.col(corpus_label).alias("__clabel"),
        l2_normalize(F.col(corpus_vec)).alias("__cv"),
    )
    q = queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qv"))
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col("__clabel") != F.col(query_id))
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.round(dot(F.col("__cv"), F.col("__qv")), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---- durable incremental IVF index ------------------------------------
#
# The reference rebuilds its ENTIRE FAISS index from all clean JSONL
# every month (pipeline.py:215-226 → build_faiss.py:88-141 — O(corpus)
# per ingest).  The engine's index is a Parquet postings table, so
# maintenance is incremental by construction: new batches are assigned
# against the STORED centroid table (tiny, broadcast) and appended —
# per-month cost ∝ batch size, never corpus size.  Search reads only
# the probed centroid lists (partition-pruned on cent_id).


def ivf_index_build(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_assign: int = 3,
) -> None:
    """Create the durable IVF index of ``corpus``' ``(vec_id, embedding)``
    rows: ``{path}/centroids`` (the
    deterministic hash-sampled centroid vectors — the trained, frozen
    part) and ``{path}/postings`` (multi-assigned normalized corpus
    vectors, hive-partitioned by ``cent_id`` so a probe prunes to its
    lists at the file level)."""
    c = corpus.select(
        F.col("vec_id").alias("id"), l2_normalize(F.col("embedding")).alias("vec")
    )
    cents = (
        c.withColumn("__h", F.xxhash64(F.col("id").cast("string")))
        .orderBy("__h")
        .limit(n_centroids)
        .select(F.col("id").alias("cent_id"), F.col("vec").alias("cent_vec"))
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    _ivf_assign(c, c.sparkSession.read.parquet(f"{path}/centroids"), n_assign).write.mode(
        "overwrite"
    ).partitionBy("cent_id").parquet(f"{path}/postings")


def _ivf_assign(c: DataFrame, cents: DataFrame, n_assign: int) -> DataFrame:
    scored = c.crossJoin(broadcast(cents)).withColumn(
        "__cs", dot(F.col("vec"), F.col("cent_vec"))
    )
    w = Window.partitionBy("id").orderBy(F.col("__cs").desc(), F.col("cent_id").asc())
    return (
        scored.withColumn("__cr", F.row_number().over(w))
        .filter(F.col("__cr") <= n_assign)
        .select("id", "vec", "cent_id")
    )


def ivf_index_append(
    new_batch: DataFrame,
    path: str,
    n_assign: int = 3,
) -> None:
    """Assign ONLY the new ``(vec_id, embedding)`` rows against the stored
    centroids and append
    their postings — the incremental-maintenance half.  The centroid
    table stays frozen (FAISS semantics: training is separate from
    adds); periodic re-training is a fresh ``ivf_index_build``."""
    spark = new_batch.sparkSession
    cents = spark.read.parquet(f"{path}/centroids")
    c = new_batch.select(
        F.col("vec_id").alias("id"), l2_normalize(F.col("embedding")).alias("vec")
    )
    _ivf_assign(c, cents, n_assign).write.mode("append").partitionBy(
        "cent_id"
    ).parquet(f"{path}/postings")


def ivf_index_search(
    queries: DataFrame,
    path: str,
    query_id: str = "query_id",
    query_vec: str = "embedding",
    k: int = 12,
    n_probe: int = 6,
) -> DataFrame:
    """Top-k over the durable index: queries assign to their ``n_probe``
    nearest stored centroids, and only those postings lists are scored
    (cent_id is the hive partition key, so unprobed lists are pruned at
    file level).  Returns (query_id, vec_id, score, rank)."""
    spark = queries.sparkSession
    cents = spark.read.parquet(f"{path}/centroids")
    post = spark.read.parquet(f"{path}/postings")
    q = queries.select(
        F.col(query_id).alias("qid"), l2_normalize(F.col(query_vec)).alias("qvec")
    )
    scored_c = q.crossJoin(broadcast(cents)).withColumn(
        "__cs", dot(F.col("qvec"), F.col("cent_vec"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("__cs").desc(), F.col("cent_id").asc())
    probes = (
        scored_c.withColumn("__cr", F.row_number().over(wq))
        .filter(F.col("__cr") <= n_probe)
        .select("qid", "qvec", "cent_id")
    )
    cand = post.join(broadcast(probes), "cent_id").select(
        F.col("qid").alias(query_id),
        F.col("id").alias("vec_id"),
        F.round(dot(F.col("vec"), F.col("qvec")), 6).alias("score"),
    ).dropDuplicates([query_id, "vec_id"])
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def nsw_graph_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    k: int = 12,
    ef: int = 24,
    n_hops: int = 8,
) -> DataFrame:
    """Graph-based ANN: per-shard navigable-small-world search — the
    sharded-graph pattern of HNSW/DiskANN serving (Malkov & Yashunin
    TPAMI'18; Subramanya et al. NeurIPS'19), the family member LSH/IVF/
    PQ don't cover (graph walks adapt to local density; hash/cell
    methods can't).

    Index: corpus rows hash to 8 md5 shards (content-
    addressed — shard membership survives repartitioning and corpus
    growth); within a shard every node keeps edges to its 8
    exact nearest neighbors (the build cost, one vectorized matmul per
    shard here; at 100 TB this is the standard one-time index-build
    job, incremental inserts append to the shard's edge list).

    Search: every query enters each shard at the md5-min node and runs
    ``n_hops`` rounds of deterministic beam expansion (keep the best
    ``ef`` found, expand all their neighbors) — work per shard is
    O(ef·m·hops), NOT O(n_shard): the sublinearity that makes graph
    ANN the serving default.  Per-shard top-k merge globally.  The
    query batch is collected to the driver (bounded — it is the
    broadcast side of every ANN operator here) and closed over by the
    Arrow kernel.

    Determinism: float64 scoring, md5 entry points, id tiebreaks,
    fixed expansion order — byte-stable across partitionings.  Scale
    shape: ONE corpus shuffle (the shard groupBy), then a tiny
    (shards×queries×k) candidate table; a routing stage that probes
    only the most promising shards is the documented seam (route on
    the IVF centroid table), traded here for exhaustive-shard recall.
    """
    import hashlib

    from knowledge_model_spark.session import spread_vectors

    q_rows = (
        queries.select(F.col(query_id), l2_normalize(F.col(query_vec)).alias("__qv"))
        .collect()
    )
    q_ids = np.asarray([r[query_id] for r in q_rows], dtype=np.int64)
    q_mat = np.asarray([np.asarray(r["__qv"], dtype=np.float64) for r in q_rows])

    c = spread_vectors(corpus).select(
        F.col(corpus_id).alias("__cid"),
        l2_normalize(F.col(corpus_vec)).alias("__cv"),
        (
            F.conv(F.substring(F.md5(F.col(corpus_id).cast("string")), 1, 8), 16, 10)
            .cast("long") % 8
        ).alias("__shard"),
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__cid"].to_numpy(dtype=np.int64)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__cv"]])
        n = len(ids)
        order = np.argsort(ids, kind="stable")
        ids, mat = ids[order], mat[order]
        # exact m-NN graph within the shard (one matmul build)
        sims = mat @ mat.T
        np.fill_diagonal(sims, -np.inf)
        m = min(8, max(n - 1, 1))
        nbrs = np.argsort(-sims, axis=1, kind="stable")[:, :m]
        # md5-min entry node (content-addressed, like every seed here)
        entry = min(
            range(n),
            key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
        )
        out = {"query_id": [], "vec_id": [], "score": []}
        for qi in range(len(q_ids)):
            qv = q_mat[qi]
            found: dict[int, float] = {entry: float(mat[entry] @ qv)}
            for _ in range(n_hops):
                beam = sorted(found, key=lambda i: (-found[i], ids[i]))[:ef]
                fresh = False
                for node in beam:
                    for nb in nbrs[node]:
                        nb = int(nb)
                        if nb not in found:
                            found[nb] = float(mat[nb] @ qv)
                            fresh = True
                if not fresh:
                    break
            top = sorted(found, key=lambda i: (-found[i], ids[i]))[:k]
            out["query_id"].extend([int(q_ids[qi])] * len(top))
            out["vec_id"].extend(int(ids[i]) for i in top)
            out["score"].extend(round(found[i], 6) for i in top)
        return pd.DataFrame(
            {
                "query_id": pd.Series(out["query_id"], dtype="int64"),
                "vec_id": pd.Series(out["vec_id"], dtype="int64"),
                "score": pd.Series(out["score"], dtype="float64"),
            }
        )

    cands = c.groupBy("__shard").applyInPandas(
        kernel, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("query_id", query_id)
        .withColumnRenamed("vec_id", corpus_id)
    )
