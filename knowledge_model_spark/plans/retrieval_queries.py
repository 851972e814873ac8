"""Retrieval-pipeline queries: the reference's /ask dataflow, oracle-checked.

Reproduces the reference's retrieval semantics over the driver's
embeddings/documents tables (where DuckDB's list_cosine_similarity gives
an exact oracle), instead of over hash-embedded text (xxhash64 — not
SQL-expressible):

- threshold cascade (reference: knowledge_model/main.py:374-381 — keep
  score >= T1 hits; a query with no phase-1 hit falls back to T2)
- greedy context packing (main.py:355-363 — running token budget)
- recall@10 eval (pipelines/tasks/eval_snapshot.py:91-100, gate
  flows/continuous.py:34-36) with same-label membership as the golden
  relation.

Thresholds are data-appropriate for the synthetic embeddings (centroid
cosine max ≈ 0.47): T1=0.30 / T2=0.15 — same two-phase semantics as the
reference's 0.75/0.55 (those remain the defaults in operators.retrieval).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from knowledge_model_spark.functions.text_analysis import token_count
from knowledge_model_spark.functions.vectors import dot, l2_normalize
from knowledge_model_spark.operators.relational import greedy_budget_pack
from knowledge_model_spark.operators.retrieval import (
    lexical_overlap_scorer,
    rerank_top_k,
    threshold_cascade,
)
from knowledge_model_spark.operators.similarity import brute_force_top_k
from knowledge_model_spark.plans import register
from knowledge_model_spark.session import load_tables, spread_vectors

K = 10
T1, T2 = 0.30, 0.15
N_EVAL_QUERIES = 50
PACK_BUDGET = 200  # tokens; small enough that packing actually cuts

# Query batch = per-label centroids (not corpus members, so no self-hit
# short-circuits the cascade).  Shared CTE for the oracles:
_CENTROID_CTE = """
    dims AS (SELECT label, generate_subscripts(embedding, 1) AS d,
                    unnest(embedding) AS v
             FROM embeddings),
    cents AS (SELECT label AS query_id, list(m ORDER BY d) AS qv
              FROM (SELECT label, d, avg(v) AS m FROM dims GROUP BY label, d)
              GROUP BY label),
    scored AS (SELECT c.query_id, e.vec_id,
                      round(list_cosine_similarity(c.qv, e.embedding), 6) AS score
               FROM embeddings e CROSS JOIN cents c),
    ranked AS (SELECT query_id, vec_id, score,
                      CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, vec_id) AS BIGINT) AS rank
               FROM scored
               WHERE score >= {t2}),
    topk AS (SELECT * FROM ranked WHERE rank <= {k}),
    cascade AS (SELECT query_id, vec_id, score, rank,
                       max(score) OVER (PARTITION BY query_id) AS best
                FROM topk)
"""


def _centroid_queries(t) -> DataFrame:
    """Per-label mean vector: posexplode → groupBy → re-assemble ordered."""
    return (
        t["embeddings"]
        .select("label", F.posexplode("embedding").alias("d", "v"))
        .groupBy("label", "d")
        .agg(F.avg("v").alias("m"))
        .groupBy(F.col("label").alias("query_id"))
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
        .select("query_id", F.transform("dm", lambda s: s["m"]).alias("qv"))
    )


def _cascade_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    hits = brute_force_top_k(
        t["embeddings"],
        _centroid_queries(t),
        corpus_id="vec_id",
        corpus_vec="embedding",
        query_id="query_id",
        query_vec="qv",
        k=K,
        min_score=T2,
    )
    return threshold_cascade(hits, T1)


@register(
    "retrieval_threshold_cascade",
    f"""
    WITH {_CENTROID_CTE.format(t2=T2, k=K)}
    SELECT query_id, vec_id, score, rank
    FROM cascade WHERE score >= {T1} OR best < {T1}
    """,
    doc="two-phase threshold cascade over exact top-k (reference: "
    "main.py:374-381, vector_store.py:129-162): phase-1 keeps "
    f"score>={T1}; queries whose best hit is below fall back to >={T2}",
)
def retrieval_threshold_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cascade_hits(spark, sf_dir).select(
        F.col("query_id").cast("int").alias("query_id"),
        "vec_id",
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "retrieval_pack_context",
    f"""
    WITH {_CENTROID_CTE.format(t2=T2, k=K)},
    hits AS (SELECT query_id, vec_id, score, rank FROM cascade
             WHERE score >= {T1} OR best < {T1}),
    costed AS (
      SELECT h.query_id, h.vec_id, h.score,
             len(list_filter(regexp_split_to_array(trim(d.text), '\\s+'),
                             w -> len(w) > 0)) AS n_tok
      FROM hits h JOIN documents d ON d.doc_id = h.vec_id
    ),
    packed AS (
      SELECT query_id, vec_id, score, n_tok,
             sum(n_tok) OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM costed
    )
    SELECT query_id, vec_id, score, CAST(n_tok AS BIGINT) AS n_tok
    FROM packed WHERE cum <= {PACK_BUDGET}
    """,
    doc="greedy context packing (reference: main.py:355-363): walk hits in "
    f"score order, keep while running token total <= {PACK_BUDGET}",
)
def retrieval_pack_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    hits = _cascade_hits(spark, sf_dir).join(
        broadcast(t["documents"].select(F.col("doc_id").alias("vec_id"), "text")),
        "vec_id",
    )
    costed = hits.withColumn("n_tok", token_count(F.col("text")))
    packed = greedy_budget_pack(
        costed,
        ["query_id"],
        order_col="score",
        cost_col="n_tok",
        budget=PACK_BUDGET,
        tiebreak=["vec_id"],
    )
    return packed.select(
        F.col("query_id").cast("int").alias("query_id"),
        "vec_id",
        "score",
        F.col("n_tok").cast("long").alias("n_tok"),
    )


RERANK_POOL = 20  # candidates per query before rerank (the 3×/5× pool idea)
RERANK_K = 5

@register(
    "retrieval_rerank_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 8),
    scored AS (SELECT q.query_id, e.vec_id,
                      round(list_cosine_similarity(q.qv, e.embedding), 6) AS score
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    cand AS (SELECT query_id, vec_id, score FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, vec_id) AS r FROM scored)
             WHERE r <= {RERANK_POOL}),
    toks AS (SELECT doc_id,
                    list_distinct(list_filter(
                      regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      w -> len(w) > 0)) AS tk
             FROM documents),
    paired AS (SELECT c.query_id, c.vec_id,
                      len(list_intersect(tq.tk, td.tk)) AS n_int,
                      len(list_distinct(tq.tk || td.tk)) AS n_uni
               FROM cand c
               JOIN toks tq ON tq.doc_id = c.query_id
               JOIN toks td ON td.doc_id = c.vec_id),
    rescored AS (SELECT query_id, vec_id,
                        CASE WHEN n_uni = 0 THEN 0.0
                             ELSE n_int / CAST(n_uni AS DOUBLE) END AS raw_s
                 FROM paired)
    SELECT query_id, vec_id, round(raw_s, 6) AS re_score,
           CAST(re_rank AS BIGINT) AS re_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY raw_s DESC, vec_id) AS re_rank FROM rescored)
    WHERE re_rank <= {RERANK_K}
    """,
    doc="cross-encoder rerank hook (reference: embeddings/re_rank.py:28-51): "
    f"top-{RERANK_POOL} cosine candidates per query re-scored by a pluggable "
    f"scorer (deterministic lexical-overlap stub, a Column expression), window top-{RERANK_K} "
    "by the new score",
)
def retrieval_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), l2_normalize(F.col("embedding")).alias("qv")
    )
    scored = (
        spread_vectors(e)
        .select("vec_id", l2_normalize(F.col("embedding")).alias("cv"))
        .crossJoin(broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(dot(F.col("cv"), F.col("qv")), 6).alias("score"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    cand = scored.withColumn("r", F.row_number().over(wc)).filter(F.col("r") <= RERANK_POOL)
    docs = t["documents"].select("doc_id", "text")
    paired = (
        cand.join(broadcast(docs.select(F.col("doc_id").alias("query_id"),
                                        F.col("text").alias("query_text"))), "query_id")
        .join(docs.select(F.col("doc_id").alias("vec_id"),
                          F.col("text").alias("doc_text")), "vec_id")
    )
    ranked = rerank_top_k(
        paired,
        lexical_overlap_scorer(),
        k=RERANK_K,
        query_id="query_id",
        query_text="query_text",
        doc_text="doc_text",
        tiebreak="vec_id",
    )
    return ranked.select(
        "query_id",
        "vec_id",
        F.round("re_score", 6).alias("re_score"),
        F.col("re_rank").cast("long").alias("re_rank"),
    )


@register(
    "eval_recall_label_at_10",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < {N_EVAL_QUERIES}),
    scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
                      round(list_cosine_similarity(q.qv, e.embedding), 6) AS s
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.qid),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY s DESC, vec_id) AS r
               FROM scored),
    hits AS (SELECT DISTINCT qid FROM ranked WHERE r <= 10 AND label = qlabel)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(h.qid) AS BIGINT) AS n_hit,
           round(count(h.qid) / count(*)::double, 6) AS recall
    FROM q LEFT JOIN hits h USING (qid)
    """,
    doc="recall@10 with same-label membership as the golden relation "
    "(reference: eval_snapshot.py:91-100; the 0.80 gate is "
    "continuous.py:34-36) — self excluded from the neighbor set",
)
def eval_recall_label_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < N_EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        l2_normalize(F.col("embedding")).alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        # corpus side spread before the broadcast fan-out: the parquet
        # scan is a single split locally, so every (corpus × query) HOF
        # dot would fold in ONE task (measured 31 idle + 1 straggler)
        spread_vectors(e)
        .select("vec_id", "label", l2_normalize(F.col("embedding")).alias("cv"))
        .crossJoin(broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(dot(F.col("cv"), F.col("qv")), 6).alias("s"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("s").desc(), F.col("vec_id").asc())
    hits = (
        scored.withColumn("r", F.row_number().over(w))
        .filter((F.col("r") <= 10) & (F.col("label") == F.col("qlabel")))
        .select("qid")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        q.select("qid")
        # hits is bounded by N_EVAL_QUERIES rows but sits behind a
        # window+distinct, so Catalyst sees no size and would SMJ —
        # shuffling and sorting both sides for a <=5-row lookup
        .join(F.broadcast(hits), "qid", "left")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
            F.round(F.avg(F.coalesce("hit", F.lit(0))), 6).alias("recall"),
        )
    )


@register(
    "embed_seam_parity",
    r"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(text) AS DOUBLE) AS c0,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  w -> len(w) > 0)) AS DOUBLE) AS c1,
             CAST(len(regexp_replace(lower(text), '[^aeiou]', '', 'g'))
                  AS DOUBLE) AS c2
      FROM documents
    ),
    n AS (SELECT doc_id, c0, c1, c2,
                 sqrt(c0*c0 + c1*c1 + c2*c2 + 1.0) AS nrm FROM s)
    SELECT doc_id,
           round(c0 / nrm, 6) AS e0,
           round(c1 / nrm, 6) AS e1,
           round(c2 / nrm, 6) AS e2,
           round(1.0 / nrm, 6) AS e3
    FROM n
    """,
    doc="pluggable-model embed seam (operators/retrieval.py embed(), "
    "reference: build_faiss.py:69-85): an injected deterministic "
    "text-stats 'model' pandas UDF (lazy per-executor init, Arrow "
    "batches, L2-normalized output) must reproduce the SQL-computed "
    "embedding exactly — proves the seam feeds the model verbatim text "
    "and ships its vectors through unchanged",
)
def embed_seam_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.retrieval import embed, stats_model_udf
    from knowledge_model_spark.session import ensure_min_partitions

    t = load_tables(spark, sf_dir)
    docs = ensure_min_partitions(t["documents"])
    vecs = embed(docs, "text", model_udf=stats_model_udf(), out_col="v")
    return vecs.select(
        "doc_id",
        *[
            F.round(F.element_at("v", i + 1), 6).alias(f"e{i}")
            for i in range(4)
        ],
    )


@register(
    "text_bm25_rank",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    perdoc AS (
      SELECT doc_id, count(*) AS dl,
             count(*) FILTER (WHERE term = 'join')   AS tf0,
             count(*) FILTER (WHERE term = 'vector') AS tf1,
             count(*) FILTER (WHERE term = 'slow')   AS tf2
      FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             count(*) FILTER (WHERE tf0 > 0) AS df0,
             count(*) FILTER (WHERE tf1 > 0) AS df1,
             count(*) FILTER (WHERE tf2 > 0) AS df2
      FROM perdoc
    ),
    scored AS (
      SELECT doc_id,
             ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
               * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
               * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
               * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
             AS score
      FROM perdoc, stats
      WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    )
    SELECT doc_id, bm25, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT doc_id, round(score, 6) AS bm25,
                 row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
          FROM scored)
    WHERE rnk <= 10
    """,
    doc="Okapi BM25 top-10 for the literal query [join, vector, slow] "
    "(k1=1.2, b=0.75) — lexical ranking stage of the reference's "
    "retrieval cascade re-expressed as one tokenize+groupBy pass, "
    "driver-scalar corpus stats, and a fixed-order JVM score "
    "expression; ranked on the 6-dp-rounded score so a last-ulp ln() "
    "difference between JVM and C libm cannot flip the order",
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.text_rank import bm25_rank

    t = load_tables(spark, sf_dir)
    out = bm25_rank(
        t["documents_spread"], "doc_id", "text", ["join", "vector", "slow"], k=10
    )
    return out.select(
        F.col("id").alias("doc_id"), "bm25", F.col("rnk").cast("long").alias("rnk")
    )


@register(
    "retrieval_hybrid_rrf",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    perdoc AS (
      SELECT doc_id, count(*) AS dl,
             count(*) FILTER (WHERE term = 'join')   AS tf0,
             count(*) FILTER (WHERE term = 'vector') AS tf1,
             count(*) FILTER (WHERE term = 'slow')   AS tf2
      FROM toks GROUP BY doc_id
    ),
    bstats AS (
      SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             count(*) FILTER (WHERE tf0 > 0) AS df0,
             count(*) FILTER (WHERE tf1 > 0) AS df1,
             count(*) FILTER (WHERE tf2 > 0) AS df2
      FROM perdoc
    ),
    bscored AS (
      SELECT doc_id,
             ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
               * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
               * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
               * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
             AS score
      FROM perdoc, bstats
      WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
    ),
    lex AS (
      SELECT doc_id AS id, rnk AS ra
      FROM (SELECT doc_id,
                   row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
            FROM bscored)
      WHERE rnk <= 20
    ),
    cent AS (
      SELECT list(m ORDER BY d) AS qv FROM (
        SELECT d, avg(v) AS m FROM (
          SELECT generate_subscripts(embedding, 1) AS d, unnest(embedding) AS v
          FROM embeddings WHERE label = 0) GROUP BY d)
    ),
    vec AS (
      SELECT vec_id AS id, rnk AS rb
      FROM (SELECT e.vec_id,
                   row_number() OVER (
                     ORDER BY round(list_cosine_similarity(c.qv, e.embedding), 6)
                       DESC, e.vec_id) AS rnk
            FROM embeddings e CROSS JOIN cent c)
      WHERE rnk <= 20
    ),
    fused AS (
      SELECT coalesce(lex.id, vec.id) AS doc_id,
             coalesce(1.0 / (60 + ra), 0.0) + coalesce(1.0 / (60 + rb), 0.0)
               AS rrf
      FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
    )
    SELECT doc_id, round(rrf, 6) AS rrf, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT doc_id, rrf,
                 row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
          FROM fused)
    WHERE rnk <= 10
    """,
    doc="hybrid retrieval via Reciprocal Rank Fusion (Cormack et al., "
    "SIGIR'09): BM25 top-20 for [join, vector, slow] fused with "
    "cosine top-20 against the label-0 centroid, rrf = Σ 1/(60+rank) — "
    "scores derive from small integer ranks only, so both engines "
    "compute bit-identical doubles and raw-score ordering is stable",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.retrieval import rrf_fuse
    from knowledge_model_spark.operators.text_rank import bm25_rank

    t = load_tables(spark, sf_dir)
    lex = bm25_rank(
        t["documents_spread"], "doc_id", "text", ["join", "vector", "slow"], k=20
    ).select("id", F.col("rnk").alias("ra"))
    cent = _centroid_queries(t).filter(F.col("query_id") == 0)
    vec = brute_force_top_k(
        t["embeddings"], cent, "vec_id", "embedding", "query_id", "qv", k=20
    ).select(F.col("vec_id").alias("id"), F.col("rank").alias("rb"))
    fused = rrf_fuse(lex, vec, "id", "ra", "rb", k0=60, k=10)
    return fused.select(
        F.col("id").alias("doc_id"), "rrf", F.col("rnk").cast("long").alias("rnk")
    )


# DCG weights 1/log2(r+1), their prefix sums (ideal DCG for m relevant),
# and reciprocal ranks — emitted as LITERALS in both engines: Spark's
# log2 (Math.log ratio) and DuckDB's (libm log2) can differ in the last
# ulp, literals cannot.
_DCG_W = [
    "1.0", "0.6309297535714575", "0.5", "0.43067655807339306",
    "0.38685280723454163", "0.3562071871080222", "0.3333333333333333",
    "0.31546487678572877", "0.3010299956639812", "0.2890648263178879",
]
_IDCG_P = [
    "1.0", "1.6309297535714575", "2.1309297535714578", "2.5616063116448506",
    "2.9484591188793923", "3.3046663059874146", "3.637999639320748",
    "3.953464516106477", "4.254494511770458", "4.543559338088346",
]
_RR = [
    "1.0", "0.5", "0.3333333333333333", "0.25", "0.2",
    "0.16666666666666666", "0.14285714285714285", "0.125",
    "0.1111111111111111", "0.1",
]


@register(
    "eval_ndcg_mrr_at_10",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < {N_EVAL_QUERIES}),
    scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
                      round(list_cosine_similarity(q.qv, e.embedding), 6) AS s
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.qid),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY s DESC, vec_id) AS r
               FROM scored),
    hit_ranks AS (SELECT qid, list(r ORDER BY r) AS hr
                  FROM ranked WHERE r <= 10 AND label = qlabel GROUP BY qid),
    nrel AS (SELECT q.qid,
                    least(10, CAST(count(*) FILTER (WHERE e.label = q.qlabel
                                                    AND e.vec_id <> q.qid)
                                   AS INTEGER)) AS m
             FROM q, embeddings e GROUP BY q.qid, q.qlabel),
    per_q AS (
      SELECT q.qid,
             CASE WHEN hr IS NULL OR len(hr) = 0 THEN 0.0::DOUBLE
                  ELSE list_reduce(list_transform(hr, x -> ([{", ".join(_DCG_W)}]::DOUBLE[])[x]),
                                   (a, b) -> a + b) END
               / (CASE WHEN m = 0 THEN 1.0::DOUBLE ELSE ([{", ".join(_IDCG_P)}]::DOUBLE[])[m] END)
               AS ndcg,
             CASE WHEN hr IS NULL OR len(hr) = 0 THEN 0.0::DOUBLE
                  ELSE ([{", ".join(_RR)}]::DOUBLE[])[hr[1]] END AS rr
      FROM q LEFT JOIN hit_ranks USING (qid) JOIN nrel USING (qid)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(list_reduce(list_sort(list(ndcg)), (a, b) -> a + b)
                 / count(*), 6) AS ndcg_at_10,
           round(list_reduce(list_sort(list(rr)), (a, b) -> a + b)
                 / count(*), 6) AS mrr_at_10
    FROM per_q
    """,
    doc="ranking-quality eval beyond recall: nDCG@10 and MRR@10 over the "
    "same-label golden relation, exact brute-force ranking (rounded "
    "score + id tiebreak = engine-identical order); DCG/ideal-DCG/RR "
    "weights are shared literals and every float reduction is a sorted "
    "fold, so the metric doubles match bit-for-bit",
)
def eval_ndcg_mrr_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < N_EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        l2_normalize(F.col("embedding")).alias("qv"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        # corpus side spread before the broadcast fan-out: the parquet
        # scan is a single split locally, so every (corpus × query) HOF
        # dot would fold in ONE task (measured 31 idle + 1 straggler)
        spread_vectors(e)
        .select("vec_id", "label", l2_normalize(F.col("embedding")).alias("cv"))
        .crossJoin(broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(dot(F.col("cv"), F.col("qv")), 6).alias("s"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("s").desc(), F.col("vec_id").asc())
    top10 = scored.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 10)
    hit_ranks = (
        top10.filter(F.col("label") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.sort_array(F.collect_list("r")).alias("hr"))
    )
    warr = f"array({', '.join(f'{x}D' for x in _DCG_W)})"
    parr = f"array({', '.join(f'{x}D' for x in _IDCG_P)})"
    rarr = f"array({', '.join(f'{x}D' for x in _RR)})"
    # relevant-in-corpus count per query label (self excluded), capped 10
    label_counts = e.groupBy(F.col("label").alias("qlabel")).agg(
        F.count("*").alias("__lc")
    )
    per_q = (
        # hit_ranks is bounded by N_EVAL_QUERIES rows behind a window +
        # groupBy (size-opaque to Catalyst — would SMJ without the hint)
        q.join(F.broadcast(hit_ranks), "qid", "left")
        .join(F.broadcast(label_counts), "qlabel")
        .withColumn("m", F.least(F.lit(10), (F.col("__lc") - 1).cast("int")))
        .withColumn(
            "dcg",
            F.expr(
                f"CASE WHEN hr IS NULL OR size(hr) = 0 THEN 0.0D "
                f"ELSE aggregate(transform(hr, x -> element_at({warr}, x)), "
                f"0D, (a, b) -> a + b) END"
            ),
        )
        .withColumn(
            "ndcg",
            F.col("dcg")
            / F.expr(f"CASE WHEN m = 0 THEN 1.0D ELSE element_at({parr}, m) END"),
        )
        .withColumn(
            "rr",
            F.expr(
                f"CASE WHEN hr IS NULL OR size(hr) = 0 THEN 0.0D "
                f"ELSE element_at({rarr}, hr[0]) END"
            ),
        )
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(
            F.expr("aggregate(array_sort(collect_list(ndcg)), 0D, (a, b) -> a + b)")
            / F.count("*"),
            6,
        ).alias("ndcg_at_10"),
        F.round(
            F.expr("aggregate(array_sort(collect_list(rr)), 0D, (a, b) -> a + b)")
            / F.count("*"),
            6,
        ).alias("mrr_at_10"),
    )


@register(
    "eval_recall_at_k_sweep",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id < {N_EVAL_QUERIES}),
    scored AS (SELECT q.qid, q.qlabel, e.vec_id, e.label,
                      round(list_cosine_similarity(q.qv, e.embedding), 6) AS s
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.qid),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY s DESC, vec_id) AS r
               FROM scored),
    best AS (SELECT qid, min(r) AS best_r
             FROM ranked WHERE label = qlabel GROUP BY qid),
    ks(k) AS (VALUES (1), (5), (10), (20)),
    nq AS (SELECT count(*) AS n FROM q)
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(count(b.qid) FILTER (b.best_r <= ks.k) AS BIGINT) AS n_hit,
           round(count(b.qid) FILTER (b.best_r <= ks.k)
                 / (SELECT n FROM nq)::double, 6) AS recall
    FROM ks LEFT JOIN best b ON true
    GROUP BY ks.k
    """,
    doc="recall@K sweep (K = 1/5/10/20) in ONE ranking pass: per-query "
    "best relevant rank, then each K thresholds the same tiny "
    "(query, best_rank) table — the operating-curve view behind the "
    "reference's single recall@10 gate (eval_snapshot.py:91-100); no "
    "re-scoring per K",
)
def eval_recall_at_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < N_EVAL_QUERIES).select(
        F.col("vec_id").alias("qid"),
        l2_normalize(F.col("embedding")).alias("qv"),
        F.col("label").alias("qlabel"),
    )
    n_q = q.count()  # driver scalar: eval-set size (tiny by construction)
    scored = (
        # corpus side spread before the broadcast fan-out: the parquet
        # scan is a single split locally, so every (corpus × query) HOF
        # dot would fold in ONE task (measured 31 idle + 1 straggler)
        spread_vectors(e)
        .select("vec_id", "label", l2_normalize(F.col("embedding")).alias("cv"))
        .crossJoin(broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(dot(F.col("cv"), F.col("qv")), 6).alias("s"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("s").desc(), F.col("vec_id").asc())
    best = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("label") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.min("r").alias("best_r"))
    )
    ks = best.sparkSession.createDataFrame(
        [(1,), (5,), (10,), (20,)], "k long"
    )
    return (
        ks.join(best, F.lit(True), "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("best_r") <= F.col("k"), 1).otherwise(0)
            ).cast("long").alias("n_hit"),
        )
        .select(
            "k",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(n_q)), 6).alias("recall"),
        )
    )


def _weighted_oracle() -> str:
    """Oracle for retrieval_hybrid_weighted, built by reusing the RRF
    oracle's BM25/centroid CTE prefix verbatim (single source for the
    shared scoring pipeline) and swapping the fusion tail: ranked lists
    carry their round-6 scores, each list min-max normalizes over its
    own candidates, and the combined score is 0.6·lex + 0.4·vec."""
    from knowledge_model_spark.plans import REGISTRY

    rrf = REGISTRY["retrieval_hybrid_rrf"].oracle
    prefix, rest = rrf.split("    lex AS (", 1)
    cent_block = rest.split("    cent AS (", 1)[1].split("    vec AS (", 1)[0]
    return (
        prefix
        + """    lex AS (
      SELECT doc_id AS id, s6 AS sa
      FROM (SELECT doc_id, round(score, 6) AS s6,
                   row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rnk
            FROM bscored)
      WHERE rnk <= 20
    ),
    cent AS (
"""
        + cent_block
        + """    vec AS (
      SELECT vec_id AS id, s6 AS sb
      FROM (SELECT e.vec_id,
                   round(list_cosine_similarity(c.qv, e.embedding), 6) AS s6,
                   row_number() OVER (
                     ORDER BY round(list_cosine_similarity(c.qv, e.embedding), 6)
                       DESC, e.vec_id) AS rnk
            FROM embeddings e CROSS JOIN cent c)
      WHERE rnk <= 20
    ),
    na AS (
      SELECT id, CASE WHEN max(sa) OVER () = min(sa) OVER () THEN 1.0
                      ELSE (sa - min(sa) OVER ())
                           / (max(sa) OVER () - min(sa) OVER ()) END AS n
      FROM lex
    ),
    nb AS (
      SELECT id, CASE WHEN max(sb) OVER () = min(sb) OVER () THEN 1.0
                      ELSE (sb - min(sb) OVER ())
                           / (max(sb) OVER () - min(sb) OVER ()) END AS n
      FROM vec
    ),
    fused AS (
      SELECT coalesce(na.id, nb.id) AS doc_id,
             0.6 * coalesce(na.n, 0.0) + 0.4 * coalesce(nb.n, 0.0) AS fs
      FROM na FULL OUTER JOIN nb ON na.id = nb.id
    )
    SELECT doc_id, round(fs, 6) AS fused, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT doc_id, fs,
                 row_number() OVER (ORDER BY round(fs, 6) DESC, doc_id) AS rnk
          FROM fused)
    WHERE rnk <= 10
    """
    )


@register(
    "retrieval_hybrid_weighted",
    None,  # oracle attached below once the RRF spec exists
    doc="hybrid retrieval via min-max-normalized weighted score fusion "
    "(0.6·BM25 + 0.4·cosine over each list's own top-20) — the "
    "score-level complement of retrieval_hybrid_rrf; retriever scores "
    "are round-6 before fusion, so normalize/combine is identical "
    "double arithmetic cross-engine "
    "(operators/retrieval.py::weighted_fuse)",
)
def retrieval_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.retrieval import weighted_fuse
    from knowledge_model_spark.operators.text_rank import bm25_rank

    t = load_tables(spark, sf_dir)
    lex = bm25_rank(
        t["documents_spread"], "doc_id", "text", ["join", "vector", "slow"], k=20
    ).select("id", F.col("bm25").alias("sa"))
    cent = _centroid_queries(t).filter(F.col("query_id") == 0)
    vec = brute_force_top_k(
        t["embeddings"], cent, "vec_id", "embedding", "query_id", "qv", k=20
    ).select(F.col("vec_id").alias("id"), F.col("score").alias("sb"))
    fused = weighted_fuse(lex, vec, "id", "sa", "sb", w_a=0.6, w_b=0.4, k=10)
    return fused.select(
        F.col("id").alias("doc_id"), "fused", F.col("rnk").cast("long").alias("rnk")
    )


# attach the derived oracle now that both specs are registered
from knowledge_model_spark.plans import REGISTRY as _REG, QuerySpec  # noqa: E402

_REG["retrieval_hybrid_weighted"] = QuerySpec(
    name="retrieval_hybrid_weighted",
    fn=_REG["retrieval_hybrid_weighted"].fn,
    oracle=_weighted_oracle(),
    doc=_REG["retrieval_hybrid_weighted"].doc,
)


_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


@register(
    "eval_answer_token_f1",
    f"""
    WITH norm AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({_NORM_SQL}, ' '),
                         w -> len(w) > 0) AS words
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, words[1:30] AS pred, words[11:40] AS gold FROM norm
    ),
    pt AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(pred) AS w FROM pairs) GROUP BY 1, 2
    ),
    gt AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(gold) AS w FROM pairs) GROUP BY 1, 2
    ),
    ov AS (
      SELECT pt.doc_id, sum(least(pt.c, gt.c)) AS n_overlap
      FROM pt JOIN gt ON pt.doc_id = gt.doc_id AND pt.w = gt.w
      GROUP BY 1
    )
    SELECT p.doc_id,
           CAST(len(p.pred) AS BIGINT) AS n_pred,
           CAST(len(p.gold) AS BIGINT) AS n_gold,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CASE WHEN len(p.pred) + len(p.gold) = 0 THEN 0.0
                ELSE 2.0 * coalesce(ov.n_overlap, 0)
                     / (len(p.pred) + len(p.gold))
           END AS f1
    FROM pairs p LEFT JOIN ov ON p.doc_id = ov.doc_id
    """,
    doc="SQuAD-style answer token F1 (the standard generative-RAG eval "
    "the reference's eval_snapshot recall check stops short of): "
    "multiset token overlap → F1 = 2·|p∩g| / (|p|+|g|) per document, "
    "predictions and golds derived deterministically from the text "
    "(word windows 1-30 vs 11-40 of the normalized doc — overlapping "
    "but not equal, so the score distribution is non-trivial).  F1 is "
    "one shared integer division emitted UNROUNDED (bit-identical "
    "cross-engine).  Scale shape: two explode→count aggs + one "
    "(doc, token) equi-join — token-sharded, no driver state; at "
    "100 TB the prediction table is a real model-output scan with the "
    "identical plan",
)
def eval_answer_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.text_analysis import (
        normalize_for_dedup,
    )

    t = load_tables(spark, sf_dir)
    words = F.filter(
        F.split(normalize_for_dedup(F.col("text")), " "),
        lambda w: F.length(w) > 0,
    )
    pairs = t["documents"].select(
        "doc_id",
        F.slice(words, 1, 30).alias("pred"),
        F.slice(words, 11, 30).alias("gold"),
    )
    pt = (
        pairs.select("doc_id", F.explode("pred").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cp"))
    )
    gt = (
        pairs.select("doc_id", F.explode("gold").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("cg"))
    )
    ov = (
        pt.join(gt, ["doc_id", "w"])
        .groupBy("doc_id")
        .agg(F.sum(F.least("cp", "cg")).alias("n_overlap"))
    )
    return (
        pairs.join(ov, "doc_id", "left")
        .select(
            "doc_id",
            F.size("pred").cast("long").alias("n_pred"),
            F.size("gold").cast("long").alias("n_gold"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            F.when(
                F.size("pred") + F.size("gold") == 0, F.lit(0.0)
            ).otherwise(
                2.0 * F.coalesce(F.col("n_overlap"), F.lit(0))
                / (F.size("pred") + F.size("gold"))
            ).alias("f1"),
        )
    )


N_MAXSIM_QUERIES = 5
MAXSIM_TOKENS = 8  # pseudo-token count: the 64-dim vector as 8 × 8-dim tokens
MAXSIM_CAND = 50  # coarse-stage candidates re-ranked by late interaction
MAXSIM_K = 10


@register(
    "retrieval_maxsim_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {N_MAXSIM_QUERIES}),
    coarse AS (
      SELECT q.query_id, e.vec_id, e.embedding, q.qv,
             list_dot_product(q.qv, e.embedding) AS s
      FROM embeddings e CROSS JOIN q
    ),
    cand AS (
      SELECT query_id, vec_id, embedding, qv FROM (
        SELECT query_id, vec_id, embedding, qv,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, vec_id) AS crn
        FROM coarse) WHERE crn <= {MAXSIM_CAND}
    ),
    tok AS (
      SELECT c.query_id, c.vec_id, i.i AS qi,
             max(list_dot_product(c.qv[CAST(i.i*8+1 AS BIGINT):CAST(i.i*8+8 AS BIGINT)],
                                  c.embedding[CAST(j.j*8+1 AS BIGINT):CAST(j.j*8+8 AS BIGINT)]))
               AS mx
      FROM cand c
      CROSS JOIN range({MAXSIM_TOKENS}) i(i)
      CROSS JOIN range({MAXSIM_TOKENS}) j(j)
      GROUP BY c.query_id, c.vec_id, i.i
    ),
    msim AS (
      SELECT query_id, vec_id, sum(mx ORDER BY qi) AS maxsim
      FROM tok GROUP BY query_id, vec_id
    )
    SELECT query_id, vec_id, rank FROM (
      SELECT query_id, vec_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY maxsim DESC, vec_id) AS BIGINT)
               AS rank
      FROM msim) WHERE rank <= {MAXSIM_K}
    """,
    doc="ColBERT-style late-interaction retrieval (Khattab & Zaharia, "
    "SIGIR'20): each 64-dim vector is read as 8 pseudo-token vectors "
    "of 8 dims; stage 1 prunes to the top-50 candidates per query by "
    "the cheap full-vector inner product (broadcast query batch × "
    "corpus scan, the ann_bruteforce plan), stage 2 re-ranks ONLY the "
    "candidates by MaxSim = Σ_qtoken max_dtoken ⟨q_t, d_t⟩.  All "
    "token math is higher-order array expressions in codegen — no "
    "explode, so the 8×8 interaction never materializes rows; the "
    "per-query-token sum folds in token-index order on both engines.  "
    "At 100 TB the expensive late interaction is candidate-bounded "
    "(50/query) while the corpus-wide stage stays one cheap scan — "
    "the standard two-stage serving split (reference analog: "
    "vector_store.py:129-162 overfetch-then-rerank)",
)
def retrieval_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.session import spread_vectors

    t = load_tables(spark, sf_dir)
    emb = spread_vectors(t["embeddings"])
    q = (
        t["embeddings"]
        .filter(F.col("vec_id") < N_MAXSIM_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    coarse = emb.crossJoin(broadcast(q)).select(
        "query_id", "vec_id", "embedding", "qv",
        dot(F.col("qv"), F.col("embedding")).alias("s"),
    )
    w_c = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("vec_id")
    )
    cand = (
        coarse.withColumn("crn", F.row_number().over(w_c))
        .filter(F.col("crn") <= MAXSIM_CAND)
        .drop("crn", "s")
    )
    toks = lambda v: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(MAXSIM_TOKENS - 1)),
        lambda i: F.slice(v, i * 8 + 1, 8),
    )
    # materialize both token lists as columns BEFORE the fold: an
    # expression referenced from inside an aggregate() lambda is
    # re-evaluated once per element (8× re-slicing here) — the
    # measured quality_luhn_audit hazard
    tokenized = cand.select(
        "query_id",
        "vec_id",
        toks(F.col("qv")).alias("qtoks"),
        toks(F.col("embedding")).alias("dtoks"),
    )
    maxsim = F.aggregate(
        F.col("qtoks"),
        F.lit(0.0),
        lambda acc, qt: acc
        + F.array_max(
            F.transform(F.col("dtoks"), lambda dt: dot(qt, dt))
        ),
    )
    scored = tokenized.select("query_id", "vec_id", maxsim.alias("maxsim"))
    w_m = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_m).cast("long"))
        .filter(F.col("rank") <= MAXSIM_K)
        .select("query_id", "vec_id", "rank")
    )


PASS_AT_KS = (1, 5, 10)
PASS_TASKS = 50


def _pass_at_k_sql(k: int) -> str:
    """One SELECT of the unrolled pass@k chain for a fixed k — the
    shared-literal-chain trick: both engines multiply the identical
    left-associated sequence of doubles, so the metric is bit-identical
    without rounding."""
    chain = "1.0"
    for i in range(k):
        chain = f"({chain} * ((n - c - {i}) / CAST(n - {i} AS DOUBLE)))"
    return f"""
      SELECT task_id, CAST({k} AS INTEGER) AS k, n, c,
             CASE WHEN n - c < {k} THEN 1.0 ELSE 1.0 - {chain} END AS pass_at_k
      FROM per_task WHERE n >= {k}"""


@register(
    "eval_pass_at_k",
    f"""
    WITH samples AS (
      SELECT doc_id % {PASS_TASKS} AS task_id,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
                  THEN 1 ELSE 0 END AS correct
      FROM documents
    ),
    per_task AS (
      SELECT task_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(correct) AS BIGINT) AS c
      FROM samples GROUP BY task_id
    )
    {" UNION ALL ".join(_pass_at_k_sql(k) for k in PASS_AT_KS)}
    """,
    doc="pass@k unbiased estimator (Chen et al. 2021, eq. 1): per task "
    "with n samples and c correct, pass@k = 1 − C(n−c,k)/C(n,k), "
    "computed as the left-associated product of k exact integer ratios "
    "— identical double arithmetic on both engines, no combinatorial "
    "overflow (C(n,k) itself would exceed int64 at n≈10⁴).  The "
    "'correct' flag is a content-addressed md5 coin — the seam where a "
    "real grader verdict column plugs in.  One task-key shuffle; the "
    "per-k chains are codegen scalar expressions over the tiny "
    "per-task table, so cost is sample-scan-bound at 100 TB",
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    samples = t["documents"].select(
        (F.col("doc_id") % PASS_TASKS).alias("task_id"),
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8", 1
        )
        .otherwise(0)
        .alias("correct"),
    )
    per_task = samples.groupBy("task_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("correct").cast("long").alias("c"),
    )
    parts = []
    for k in PASS_AT_KS:
        chain = F.lit(1.0)
        for i in range(k):
            chain = chain * (
                (F.col("n") - F.col("c") - F.lit(i))
                / (F.col("n") - F.lit(i)).cast("double")
            )
        parts.append(
            per_task.filter(F.col("n") >= k).select(
                "task_id",
                F.lit(k).cast("int").alias("k"),
                "n",
                "c",
                F.when(F.col("n") - F.col("c") < k, F.lit(1.0))
                .otherwise(F.lit(1.0) - chain)
                .alias("pass_at_k"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


BLEU_MAX_N = 4


def _word_gram_structs(max_n: int):
    """Packed (h·8 + n) gram keys for word n-grams of column `t`
    (array<string>), all orders 1..max_n in one nested transform.

    r12 (guide §2.3 — narrower agg/shuffle keys): the (n int, h long)
    struct is packed into ONE long, h·8 + n — h is a 60-bit md5 prefix
    so h·8 < 2^63 stays a positive signed long, and n ≤ 6 < 8 makes the
    packing bijective: grouping by the packed key IS grouping by
    (n, h), so the clipped counts (and their oracle-lockstep md5
    collision behaviour) are unchanged while the per-row agg key drops
    from 20 to 16 bytes and the exploded struct array becomes a plain
    long array.  Measured on the chrf clip chain: 1.54 → 1.37 s,
    values identical.

    Short-doc guard (r9 ADVICE): when size(t) < n, sequence(1,
    greatest(size-n+1, 0)) is the DESCENDING [1, 0] (Spark's default
    step is -1 when start > stop) and slice(t, 0, n) throws
    INVALID_PARAMETER_VALUE.START — so orders longer than the doc
    contribute an explicitly-typed empty array instead.
    """
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_n)),
            lambda n: F.when(
                F.size("t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - n + 1),
                    lambda i: F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(" ", F.slice(F.col("t"), i, n))
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    * 8
                    + n.cast("long"),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )
    )


def _char_gram_structs(max_n: int):
    """Packed (h·8 + n) gram keys for char n-grams of column `s`
    (string), all orders 1..max_n in one nested transform — same
    bijective packing (and the same reasons) as
    :func:`_word_gram_structs`.

    Short-doc guard (r9 ADVICE): sequence(1, greatest(len-n+1, 0))
    yields the DESCENDING [1, 0] when len(s) < n, and substr tolerates
    position 0 — so each too-long order silently emitted TWO phantom
    gram rows (the whole remaining string at i=1 and i=0) instead of
    none.  Provably value-neutral for chrp/chrr (the matching
    denominators are 0) but the clipped counts were wrong; guard so
    short docs contribute an empty gram array.
    """
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_n)),
            lambda n: F.when(
                F.length("s") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.length("s") - n + 1),
                    lambda i: F.conv(
                        F.substring(F.md5(F.col("s").substr(i, n)), 1, 15),
                        16,
                        10,
                    ).cast("long")
                    * 8
                    + n.cast("long"),
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )
    )


def _pair_clipped_counts(grams: DataFrame, max_n: int) -> DataFrame:
    """(cand_id, c1..c<max_n>) clipped shared-gram counts per dup-chain
    pair, from an exploded (doc_id, k = h·8 + n) gram stream — the
    shared core of eval_bleu_components and eval_chrf (r9 routed
    one-pass shape; r12 packed keys).

    The pair relation is positional (ref_id = cand_id + 1 on the
    dup-chain fixture, candidates = doc_id%10<4), so each gram row
    ROUTES to its pair key(s) — cand side as itself, ref side keyed
    doc_id−1 when doc_id%10∈1..4 — and ONE groupBy (pair, n, h) emits
    min(count_cand, count_ref), the clipped count, with map-side
    combine.  A second tiny groupBy pivots per-order sums to columns.
    A pair key appears whenever EITHER side contributed gram rows
    (one-sided grams clip to 0; an order with no routed rows at all is
    NULL) — callers left-join and coalesce to 0, so both forms read as
    zero; a cand row routed for a nonexistent ref doc is dropped by
    the caller's pairs join.  Unit-tested against a Python Counter
    reference on planted edge cases (empty docs, one-sided grams,
    count asymmetries) in tests/test_plan_shapes.py.
    """
    d = F.col("doc_id")
    routes = F.filter(
        F.array(
            F.struct(
                d.alias("cand_id"),
                F.lit(1).cast("long").alias("c"),
                F.lit(0).cast("long").alias("r"),
                (d % 10 < 4).alias("v"),
            ),
            F.struct(
                (d - 1).alias("cand_id"),
                F.lit(0).cast("long").alias("c"),
                F.lit(1).cast("long").alias("r"),
                ((d % 10 >= 1) & (d % 10 <= 4)).alias("v"),
            ),
        ),
        lambda x: x["v"],
    )
    # `k` is the packed h·8 + n key (see _word_gram_structs): grouping
    # by it IS grouping by (n, h) — bijective — with a 16-byte agg key
    # instead of 20 and one fewer column through the exchange (r12).
    routed = grams.select(F.explode(routes).alias("rt"), "k").select(
        F.col("rt.cand_id").alias("cand_id"),
        "k",
        F.col("rt.c").alias("c"),
        F.col("rt.r").alias("r"),
    )
    pairclip = routed.groupBy("cand_id", "k").agg(
        F.least(F.sum("c"), F.sum("r")).alias("m")
    )
    order = (F.col("k") % 8).cast("int")
    return pairclip.groupBy("cand_id").agg(
        *[
            F.sum(F.when(order == i, F.col("m")))
            .cast("long")
            .alias(f"c{i}")
            for i in range(1, max_n + 1)
        ]
    )


@register(
    "eval_bleu_components",
    f"""
    WITH pairs AS (
      SELECT c.doc_id AS cand_id, c.doc_id + 1 AS ref_id
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 10 < 4
    ),
    toks AS (
      SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1) AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, n.n AS n,
             unnest(CASE WHEN len(t) >= n.n
                    THEN list_transform(generate_series(1, len(t) - n.n + 1),
                                        i -> array_to_string(t[i:i+n.n-1], ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM toks CROSS JOIN (VALUES (1), (2), (3), (4)) n(n)
    ),
    gcounts AS (
      SELECT doc_id, n,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h,
             count(*) AS cnt
      FROM grams GROUP BY ALL
    ),
    clip AS (
      SELECT p.cand_id, c.n, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS clipped
      FROM pairs p
      JOIN gcounts c ON c.doc_id = p.cand_id
      JOIN gcounts r ON r.doc_id = p.ref_id AND r.n = c.n AND r.h = c.h
      GROUP BY p.cand_id, c.n
    ),
    lens AS (SELECT doc_id, len(t) AS L FROM toks),
    grid AS (
      SELECT p.cand_id, p.ref_id, lc.L AS cl, lr.L AS rl, n.n AS n,
             coalesce(cp.clipped, 0) AS clipped,
             greatest(lc.L - n.n + 1, 0) AS total
      FROM pairs p
      JOIN lens lc ON lc.doc_id = p.cand_id
      JOIN lens lr ON lr.doc_id = p.ref_id
      CROSS JOIN (VALUES (1), (2), (3), (4)) n(n)
      LEFT JOIN clip cp ON cp.cand_id = p.cand_id AND cp.n = n.n
    )
    SELECT cand_id, ref_id,
           CAST(any_value(cl) AS BIGINT) AS cand_len,
           CAST(any_value(rl) AS BIGINT) AS ref_len,
           any_value(cl) / CAST(any_value(rl) AS DOUBLE) AS brevity_ratio,
           max(CASE WHEN n = 1 AND total > 0
                    THEN clipped / CAST(total AS DOUBLE) END) AS p1,
           max(CASE WHEN n = 2 AND total > 0
                    THEN clipped / CAST(total AS DOUBLE) END) AS p2,
           max(CASE WHEN n = 3 AND total > 0
                    THEN clipped / CAST(total AS DOUBLE) END) AS p3,
           max(CASE WHEN n = 4 AND total > 0
                    THEN clipped / CAST(total AS DOUBLE) END) AS p4
    FROM grid GROUP BY cand_id, ref_id
    """,
    doc="BLEU components (Papineni et al., ACL'02): per candidate/"
    "reference pair the four CLIPPED modified n-gram precisions "
    "p1..p4 (Σ min(count_cand, count_ref) over shared n-grams ÷ "
    "(len − n + 1)) plus the brevity ratio — every emitted value one "
    "exact integer division, so no cross-engine float drift and no "
    "ln/exp ulp hazard (the final geometric-mean combine is one "
    "scalar op downstream; the DISTRIBUTED work is exactly the "
    "clipping).  Pairs ride the dup-chain fixture (doc → doc+1).  "
    "r9 scale shape (mirrors eval_chrf): the pair relation is "
    "positional (ref = cand+1), so each gram row routes to its pair "
    "key(s) in one pass and a single md5-int64-keyed groupBy emits "
    "min(count_cand, count_ref) per (pair, n, gram-hash) with "
    "map-side combine — never a pair cross product, no per-doc count "
    "table, no checkpoint.  Keys are the 60-bit md5 prefix, the same "
    "literal chain the oracle hashes with (lockstep collisions)",
)
def eval_bleu_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    # only docs that participate in a pair (cand %10<4, ref %10 in 1..4
    # = doc_id%10 <= 4) feed the n-gram explosion — half the corpus
    toks = docs.filter(F.col("doc_id") % 10 <= 4).select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda w: F.length(w) > 1,
        ).alias("t"),
    )
    # r9 plan rework (mirrors eval_chrf): the pair relation is
    # positional (ref = cand+1), so each word-gram row routes straight
    # to its pair key(s) and ONE md5-int64-keyed groupBy computes the
    # clipped counts — no per-doc count table, no checkpoint, no clip
    # self-join.  md5 keys move in lockstep with the oracle's.
    gram_keys = _word_gram_structs(BLEU_MAX_N)
    grams = toks.select("doc_id", F.explode(gram_keys).alias("k"))
    clipw = _pair_clipped_counts(grams, BLEU_MAX_N)
    pairs = (
        docs.filter(F.col("doc_id") % 10 < 4)
        .select(F.col("doc_id").alias("cand_id"), (F.col("doc_id") + 1).alias("ref_id"))
        .join(
            docs.select(F.col("doc_id").alias("ref_id")), "ref_id"
        )
    )
    lens = toks.select("doc_id", F.size("t").alias("L"))
    base = (
        pairs.join(
            lens.select(F.col("doc_id").alias("cand_id"), F.col("L").alias("cl")),
            "cand_id",
        )
        .join(
            lens.select(F.col("doc_id").alias("ref_id"), F.col("L").alias("rl")),
            "ref_id",
        )
        .join(clipw, "cand_id", "left")
    )

    def prec(i: int):
        tot = F.greatest(F.col("cl") - i + 1, F.lit(0))
        # NULL (not 0.0) when the candidate has no i-grams — matches
        # the oracle's max(CASE WHEN ... THEN ...) with no ELSE
        return F.when(
            tot > 0,
            F.coalesce(F.col(f"c{i}"), F.lit(0)) / tot.cast("double"),
        ).alias(f"p{i}")

    return base.select(
        "cand_id",
        "ref_id",
        F.col("cl").cast("long").alias("cand_len"),
        F.col("rl").cast("long").alias("ref_len"),
        (F.col("cl") / F.col("rl").cast("double")).alias("brevity_ratio"),
        prec(1),
        prec(2),
        prec(3),
        prec(4),
    )


@register(
    "eval_rouge_l",
    None,  # LCS is a sequential DP — not SQL-expressible; exact python
    # recompute asserted pair-for-pair in tests/test_plan_shapes.py
    doc="ROUGE-L (Lin, 2004): longest-common-subsequence precision/"
    "recall/F1 per candidate/reference pair (the dup-chain fixture, "
    "doc → doc+1) — completes the generation-eval family next to "
    "eval_bleu_components and eval_answer_token_f1.  The LCS DP is "
    "inherently sequential per pair, so it runs as ONE numpy kernel "
    "per Arrow batch inside mapInPandas over the joined pair rows — "
    "token payloads never leave executors, zero shuffle after the "
    "pair join; per-pair cost O(len_c·len_r) is bounded by chunked "
    "document length at 100 TB.  F1 = 2pr/(p+r) from the exact "
    "integer lcs/len ratios",
)
def eval_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda w: F.length(w) > 1,
        ).alias("t"),
    )
    pairs = (
        toks.filter(F.col("doc_id") % 10 < 4)
        .select(
            F.col("doc_id").alias("cand_id"),
            (F.col("doc_id") + 1).alias("ref_id"),
            F.col("t").alias("ct"),
        )
        .join(
            toks.select(F.col("doc_id").alias("ref_id"), F.col("t").alias("rt")),
            "ref_id",
        )
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"cand_id": [], "ref_id": [], "lcs_len": [],
                   "rouge_l_p": [], "rouge_l_r": [], "rouge_l_f1": []}
            for cid, rid, ct, rt in zip(
                pdf["cand_id"], pdf["ref_id"], pdf["ct"], pdf["rt"]
            ):
                c, r = list(ct), list(rt)
                # row-rolling LCS DP.  Per candidate token the row
                # update is cur[j] = max(prev[j], cur[j-1],
                # prev[j-1]+match) — the cur[j-1] term is a running
                # max, so the whole row vectorizes as
                # maximum.accumulate(max(prev[j], prev[j-1]+match)).
                r_arr = np.asarray(r, dtype=object)
                prev = np.zeros(len(r) + 1, dtype=np.int64)
                for tok in c:
                    match = (r_arr == tok).astype(np.int64)
                    a = np.maximum(prev[1:], prev[:-1] + match)
                    prev[1:] = np.maximum.accumulate(a)
                lcs = int(prev[-1])
                p = lcs / len(c) if c else 0.0
                rr = lcs / len(r) if r else 0.0
                f1 = 2 * p * rr / (p + rr) if p + rr > 0 else 0.0
                out["cand_id"].append(int(cid))
                out["ref_id"].append(int(rid))
                out["lcs_len"].append(lcs)
                out["rouge_l_p"].append(p)
                out["rouge_l_r"].append(rr)
                out["rouge_l_f1"].append(f1)
            yield pd.DataFrame(
                {
                    "cand_id": pd.Series(out["cand_id"], dtype="int64"),
                    "ref_id": pd.Series(out["ref_id"], dtype="int64"),
                    "lcs_len": pd.Series(out["lcs_len"], dtype="int64"),
                    "rouge_l_p": pd.Series(out["rouge_l_p"], dtype="float64"),
                    "rouge_l_r": pd.Series(out["rouge_l_r"], dtype="float64"),
                    "rouge_l_f1": pd.Series(out["rouge_l_f1"], dtype="float64"),
                }
            )

    return pairs.mapInPandas(
        kernel,
        "cand_id long, ref_id long, lcs_len long, "
        "rouge_l_p double, rouge_l_r double, rouge_l_f1 double",
    )


CHRF_MAX_N = 6
CHRF_BETA2 = 4  # β=2 per Popović 2015


def _chrf_avg(col: str) -> str:
    """Fixed-order 6-term average — the shared-literal-chain trick."""
    terms = " + ".join(
        f"max(CASE WHEN n = {n} THEN {col} ELSE 0.0 END)"
        for n in range(1, CHRF_MAX_N + 1)
    )
    return f"(((((({terms})))))) / {CHRF_MAX_N}.0"


@register(
    "eval_chrf",
    f"""
    WITH pairs AS (
      SELECT c.doc_id AS cand_id, c.doc_id + 1 AS ref_id
      FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 10 < 4
    ),
    chars AS (
      SELECT doc_id, replace(lower(text), ' ', '') AS s FROM documents
    ),
    grams AS (
      SELECT doc_id, n.n AS n,
             unnest(CASE WHEN len(s) >= n.n
                    THEN list_transform(generate_series(1, len(s) - n.n + 1),
                                        i -> s[i:i+n.n-1])
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM chars CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6)) n(n)
    ),
    gcounts AS (
      SELECT doc_id, n,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h,
             count(*) AS cnt
      FROM grams GROUP BY ALL
    ),
    clip AS (
      SELECT p.cand_id, c.n, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS clipped
      FROM pairs p
      JOIN gcounts c ON c.doc_id = p.cand_id
      JOIN gcounts r ON r.doc_id = p.ref_id AND r.n = c.n AND r.h = c.h
      GROUP BY p.cand_id, c.n
    ),
    lens AS (SELECT doc_id, len(s) AS L FROM chars),
    grid AS (
      SELECT p.cand_id, p.ref_id, n.n AS n,
             coalesce(cp.clipped, 0) AS clipped,
             greatest(lc.L - n.n + 1, 0) AS ct,
             greatest(lr.L - n.n + 1, 0) AS rt
      FROM pairs p
      JOIN lens lc ON lc.doc_id = p.cand_id
      JOIN lens lr ON lr.doc_id = p.ref_id
      CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6)) n(n)
      LEFT JOIN clip cp ON cp.cand_id = p.cand_id AND cp.n = n.n
    ),
    ratios AS (
      SELECT cand_id, ref_id, n,
             CASE WHEN ct > 0 THEN clipped / CAST(ct AS DOUBLE) ELSE 0.0 END AS pn,
             CASE WHEN rt > 0 THEN clipped / CAST(rt AS DOUBLE) ELSE 0.0 END AS rn
      FROM grid
    ),
    scored AS (
      SELECT cand_id, ref_id,
             {_chrf_avg('pn')} AS chrp,
             {_chrf_avg('rn')} AS chrr
      FROM ratios GROUP BY cand_id, ref_id
    )
    SELECT cand_id, ref_id, chrp, chrr,
           CASE WHEN {CHRF_BETA2} * chrp + chrr > 0
                THEN (1 + {CHRF_BETA2}) * chrp * chrr
                     / ({CHRF_BETA2} * chrp + chrr)
                ELSE 0.0 END AS chrf2
    FROM scored
    """,
    doc="chrF2 (Popović, WMT'15): character n-gram F-score, n = 1..6 "
    "over whitespace-stripped lowercase text, β = 2 — the MT metric "
    "that correlates with human judgment better than BLEU on "
    "morphology-rich languages; completes the generation-eval family "
    "(BLEU components, ROUGE-L, token F1).  Every per-order ratio is "
    "one exact integer division; the 6-order averages and the F-beta "
    "combine are fixed literal chains of identical doubles — no "
    "rounding needed anywhere.  r9 scale shape (shared with BLEU): the "
    "pair relation is positional (ref = cand+1), so each exploded gram "
    "ROUTES to its pair key(s) in one pass and a single "
    "md5-int64-keyed groupBy emits min(count_cand, count_ref) per "
    "(pair, n, gram-hash) with map-side combine — no per-doc count "
    "table, no checkpoint, no clip self-join; 4.66 s → ~2.8 s at "
    "sf0.1.  Keys are the 60-bit md5 prefix (conv hex→long, the "
    "dup-spans trick), the same literal chain the oracle hashes with, "
    "so collisions (none at 60 bits) would move in lockstep",
)
def eval_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9 plan rework (4.66 s → ~2.8 s at sf0.1): the r8 shape built a
    # per-doc gram-count table, localCheckpointed it, and self-joined it
    # through the pairs table — two extra exchanges plus a 2M-row
    # checkpoint whose materialization dominated the query.  Since the
    # pair relation is POSITIONAL (ref_id = cand_id + 1), each gram row
    # instead ROUTES directly to its pair key(s) in one pass (cand side
    # if doc%10<4, ref side keyed doc_id-1 if doc%10∈1..4), and ONE
    # md5-int64-keyed groupBy computes min(count_cand, count_ref) per
    # (pair, n, gram-hash) — the clipped count — with map-side combine.
    # md5 (not xxhash64) so a hash collision would change counts in
    # LOCKSTEP with the oracle, which applies the same literal chain.
    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    # pair participants only (see eval_bleu_components) — halves the
    # char-gram explosion
    chars = docs.filter(F.col("doc_id") % 10 <= 4).select(
        "doc_id",
        F.replace(F.lower(F.col("text")), F.lit(" "), F.lit("")).alias("s"),
    )
    # every (n, gram-hash) from ONE nested transform over s — no
    # crossJoin against an n-grid, so s is never duplicated 6×
    gram_keys = _char_gram_structs(CHRF_MAX_N)
    grams = chars.select("doc_id", F.explode(gram_keys).alias("k"))
    clipw = _pair_clipped_counts(grams, CHRF_MAX_N)
    pairs = (
        docs.filter(F.col("doc_id") % 10 < 4)
        .select(F.col("doc_id").alias("cand_id"), (F.col("doc_id") + 1).alias("ref_id"))
        .join(docs.select(F.col("doc_id").alias("ref_id")), "ref_id")
    )
    lens = chars.select("doc_id", F.length("s").alias("L"))
    base = (
        pairs.join(
            lens.select(F.col("doc_id").alias("cand_id"), F.col("L").alias("cl")),
            "cand_id",
        )
        .join(
            lens.select(F.col("doc_id").alias("ref_id"), F.col("L").alias("rl")),
            "ref_id",
        )
        .join(clipw, "cand_id", "left")
    )

    def ratio(i: int, L: str):
        tot = F.greatest(F.col(L) - i + 1, F.lit(0))
        return F.when(
            tot > 0,
            F.coalesce(F.col(f"c{i}"), F.lit(0)) / tot.cast("double"),
        ).otherwise(F.lit(0.0))

    chrp = sum(
        [ratio(i, "cl") for i in range(2, CHRF_MAX_N + 1)], ratio(1, "cl")
    ) / float(CHRF_MAX_N)
    chrr = sum(
        [ratio(i, "rl") for i in range(2, CHRF_MAX_N + 1)], ratio(1, "rl")
    ) / float(CHRF_MAX_N)
    scored = base.select(
        "cand_id", "ref_id", chrp.alias("chrp"), chrr.alias("chrr")
    )
    b2 = float(CHRF_BETA2)
    return scored.select(
        "cand_id",
        "ref_id",
        "chrp",
        "chrr",
        F.when(
            b2 * F.col("chrp") + F.col("chrr") > 0,
            (1 + b2) * F.col("chrp") * F.col("chrr")
            / (b2 * F.col("chrp") + F.col("chrr")),
        )
        .otherwise(F.lit(0.0))
        .alias("chrf2"),
    )
