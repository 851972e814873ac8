"""End-to-end retrieval pipeline + eval — the reference's flagship query.

Reproduces the `/ask` dataflow (reference: knowledge_model/main.py:365-421)
and the recall@K eval gate (pipelines/tasks/eval_snapshot.py:74-108,
flows/continuous.py:34-36) as batch DataFrame jobs:

  clean → split passages → embed (hash stub or pluggable pandas_udf) →
  exact top-k scored join → threshold cascade → rerank → context packing
  budget — composed once, in :func:`ask`.
"""

from __future__ import annotations

import math
import threading
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from knowledge_model_spark.functions.chunking import explode_passages
from knowledge_model_spark.functions.text_analysis import token_count
from knowledge_model_spark.functions.text_cleaning import clean_text
from knowledge_model_spark.functions.vectors import hash_embed
from knowledge_model_spark.operators.relational import greedy_budget_pack
from knowledge_model_spark.operators.similarity import brute_force_top_k
from knowledge_model_spark.session import plan_size_bytes

DEFAULT_TOP_K = 12  # reference: vector_store.py:19
MIN_SCORE = 0.75  # reference: vector_store.py:134
FALLBACK_MIN_SCORE = 0.55  # reference: main.py:380
CONTEXT_TOKEN_BUDGET = 800  # reference: main.py:355
# retrieve() scores an index on the driver when its plan estimate and its
# (n, dim) float64 matrix both fit.  On a 4-vCPU host a fresh snapshot up to
# 16 MiB repaid its load on its first call; larger ones took more calls.
RESIDENT_MAX_BYTES = 16 * 1024 * 1024

Scorer = Callable[[Column, Column], Column]


def passage_id(doc_id: Column, chunk_index: Column) -> Column:
    """The passage key ``doc_id#chunk_index`` that hits carry as ``__pid``."""
    return F.concat_ws("#", doc_id, chunk_index)


def passage_doc_id(pid: Column) -> Column:
    """Inverse of :func:`passage_id` on its document part: the long doc_id."""
    return F.split(pid, "#").getItem(0).cast("long")


def threshold_cascade(hits: DataFrame, min_score: float) -> DataFrame:
    """Two-phase threshold cascade over (query_id, …, score) hits already
    cut at the fallback threshold (reference: main.py:374-381): keep
    score >= min_score, except that a query whose best hit is below
    min_score keeps all its hits."""
    return (
        hits.withColumn("__best", F.max("score").over(Window.partitionBy("query_id")))
        .filter((F.col("score") >= min_score) | (F.col("__best") < min_score))
        .drop("__best")
    )


def build_passage_index(docs: DataFrame, dim: int = 64) -> DataFrame:
    """documents (doc_id, text) → cleaned, chunked, hash-embedded passage
    table (doc_id, chunk_index, chunk_text, char_start, char_end, vector):
    ``PASSAGE_SIZE``-char passages overlapping by ``PASSAGE_OVERLAP``
    (functions/chunking.py).

    The batch analog of the reference ingest (pipeline.py:96-259 →
    build_faiss.py:88-141), with the FAISS index replaced by a first-class
    embeddings column.
    """
    cleaned = docs.select("doc_id", clean_text(F.col("text")).alias("clean_text"))
    passages = explode_passages(cleaned, "clean_text", ["doc_id"])
    return passages.withColumn("vector", hash_embed(F.col("chunk_text"), dim))


def embed(
    df: DataFrame,
    text_col: str = "chunk_text",
    model_udf=None,
    out_col: str = "vector",
    dim: int = 64,
) -> DataFrame:
    """Embedding stage with a pluggable-model seam — the embed-side twin
    of the rerank hook (:func:`rerank_top_k`).

    ``model_udf`` is any pandas UDF mapping a text Series to an
    array<float|double> Series: the real-model slot (reference:
    build_faiss.py:69-85 — SentenceTransformer.encode, batch 64,
    normalize_embeddings=True).  Arrow batching is the reference's
    batch-64 analog; per-executor lazy model init belongs INSIDE the UDF
    closure (load on first batch, reuse for the executor's lifetime —
    the @lru_cache analog of re_rank.py:20-24; see
    :func:`stats_model_udf` for the canonical shape).  Defaults to the
    deterministic :func:`hash_embed` expression so pipelines run without
    model downloads.
    """
    if model_udf is None:
        return df.withColumn(out_col, hash_embed(F.col(text_col), dim))
    return df.withColumn(out_col, model_udf(F.col(text_col)))


def stats_model_udf():
    """Deterministic fake "model" for the embed seam, shaped exactly like
    a real SentenceTransformer UDF: lazy per-executor init in the
    closure, Arrow-batched encode, L2-normalized output — but computing a
    4-dim text-stats embedding [n_chars, n_words, n_vowels, 1]/‖·‖ that a
    SQL oracle can reproduce bit-for-bit."""
    state: dict = {}

    @F.pandas_udf("array<double>")
    def model(texts: pd.Series) -> pd.Series:
        import re

        if not state:  # lazy init: once per executor process
            state.update(vowel=re.compile(r"[aeiou]"), ws=re.compile(r"\s+"))
        return _stats_embed(texts, state["vowel"], state["ws"])

    return model


def stats_model_iter_udf():
    """SCALAR_ITER twin of :func:`stats_model_udf` — the canonical
    per-partition model-loading form (SPARK-26412): the UDF receives an
    ITERATOR of Arrow batches, so expensive init (loading SentenceTransformer
    weights onto the device, reference build_faiss.py:69-78) runs exactly
    once per task before the batch loop, not once per batch and not once
    per row.  Same contract as the SCALAR form — embed() accepts either —
    and parity between the two is gated in tests/test_retrieval.py."""
    @F.pandas_udf("array<double>")
    def model(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        # expensive-init site: ONCE per task, before any batch
        vowel_re = re.compile(r"[aeiou]")
        ws_re = re.compile(r"\s+")
        for texts in batches:
            yield _stats_embed(texts, vowel_re, ws_re)

    return model


def _stats_embed(texts: pd.Series, vowel_re, ws_re) -> pd.Series:
    """The per-text kernel both stats-model UDF forms share."""
    out = []
    for t in texts:
        t = t or ""
        v = [len(t), len([w for w in ws_re.split(t) if w]), len(vowel_re.findall(t.lower())), 1]
        n = math.sqrt(sum(x * x for x in v))
        out.append([x / n for x in v])
    return pd.Series(out)


def retrieve(
    index: DataFrame, queries: DataFrame, k: int = DEFAULT_TOP_K, dim: int = 64
) -> DataFrame:
    """Top-k passages per (query_id, query_text) query with the two-phase
    threshold cascade: (query_id, __pid, score, rank).

    Phase 1 keeps hits with score >= ``MIN_SCORE``; queries with no
    phase-1 hit fall back to score >= ``FALLBACK_MIN_SCORE`` (reference:
    main.py:374-381).  Expressed as one scored join + per-query max-score
    bookkeeping — no second retrieval pass needed because the exact scored
    join already materializes all candidates above the weaker threshold.

    An index whose plan estimate and loaded float64 matrix are both at
    most ``RESIDENT_MAX_BYTES``, with a deterministic plan and finite
    vectors of one length, is scored on the driver (the reference's
    in-memory ``IndexFlatIP``) with the same rows: its (__pid, vector)
    snapshot loads once, keyed on the analyzed plan plus the input files
    (an appended Parquet index is a new snapshot; two are kept; an
    ineligible or failed load is remembered; answers are never cached).
    That path is EAGER: the query-embedding job runs at call time and a
    local relation comes back.  Any other index runs the lazy Spark plan.
    """
    qv = queries.select("query_id", hash_embed(F.col("query_text"), dim).alias("qvec"))
    snapshot = _resident_snapshot(index)
    if snapshot is not None and snapshot[1].shape[0] == dim:
        return _resident_retrieve(qv, snapshot, k)
    hits = brute_force_top_k(
        index.withColumn("__pid", passage_id(F.col("doc_id"), F.col("chunk_index"))),
        qv,
        corpus_id="__pid",
        corpus_vec="vector",
        query_id="query_id",
        query_vec="qvec",
        k=k,
        min_score=FALLBACK_MIN_SCORE,
        normalized=True,
    )
    return threshold_cascade(hits, MIN_SCORE)


# LRU (oldest first) of (semantic hash, input files, analyzed plan,
# (pids, (dim, n) float64 matrix) or None for an ineligible index).
_SNAPSHOTS: list = []
_SNAPSHOTS_LOCK = threading.Lock()


def _resident_snapshot(index: DataFrame):
    """The cached ``(pids, matrix)`` snapshot of ``index``, loading it on
    first use; None when the index is over the gate or ineligible."""
    plan = index._jdf.queryExecution().analyzed()
    if not 0 < plan_size_bytes(index) <= RESIDENT_MAX_BYTES or not plan.deterministic():
        return None
    key = (plan.semanticHash(), sorted(index.inputFiles()))
    with _SNAPSHOTS_LOCK:
        for i, (h, files, cached, snap) in enumerate(_SNAPSHOTS):
            if (h, files) == key and cached.sameResult(plan):
                _SNAPSHOTS.append(_SNAPSHOTS.pop(i))
                return snap
        try:  # a failed load (e.g. over maxResultSize) or None / ragged vectors
            pdf = index.select(
                passage_id(F.col("doc_id"), F.col("chunk_index")).alias("__pid"), "vector"
            ).toPandas()
            m = np.array(pdf["vector"].tolist(), dtype=np.float64)
        except Exception:
            m = np.empty(0)
        # the plan estimate need not bound the matrix (Generate keeps its
        # child's size), so the gate is checked again on the loaded bytes
        ok = m.ndim == 2 and len(m) and m.nbytes <= RESIDENT_MAX_BYTES and np.isfinite(m).all()
        snap = (pdf["__pid"].tolist(), np.ascontiguousarray(m.T)) if ok else None
        _SNAPSHOTS[:] = _SNAPSHOTS[-1:] + [(*key, plan, snap)]
        return snap


def _resident_retrieve(qv: DataFrame, snapshot, k: int) -> DataFrame:
    """:func:`retrieve`'s Spark-path rows for ``qv`` (query_id, qvec) from
    a snapshot: the left fold over dims of ``vectors.dot``, Spark's
    rounding, one ranking per query_id by (score desc, __pid), and the
    :func:`threshold_cascade` rule, on the driver so hits need no shuffle."""
    pids, m = snapshot
    rows = [r for r in qv.collect() if r[1] is not None]
    jvm = qv.sparkSession._jvm
    groups: dict = {}
    block = max(1, (1 << 20) // m.shape[1])  # queries scored per pass
    for lo in range(0, len(rows), block):
        qs = rows[lo:lo + block]
        q = np.array([r[1] for r in qs], dtype=np.float64)
        acc = np.zeros((len(qs), m.shape[1]))
        for d in range(m.shape[0]):
            acc += q[:, d:d + 1] * m[d]
        for qi, ci in zip(*np.nonzero(acc >= FALLBACK_MIN_SCORE - 1e-6)):
            score = spark_round6(float(acc[qi, ci]), jvm)
            if score >= FALLBACK_MIN_SCORE:
                groups.setdefault(qs[qi][0], []).append((score, pids[ci]))
    out = []
    for qid, cands in groups.items():
        top = sorted(cands, key=lambda c: (-c[0], c[1]))[:max(k, 0)]
        floor = MIN_SCORE if top and top[0][0] >= MIN_SCORE else -math.inf
        out += [
            {"query_id": qid, "__pid": pid, "score": score, "rank": rank}
            for rank, (score, pid) in enumerate(top, 1)
            if score >= floor
        ]
    schema = StructType([qv.schema[0]]).add("__pid", "string", False).add(
        "score", "double").add("rank", "integer", False)
    return qv.sparkSession.createDataFrame(
        pa.Table.from_pylist(out, schema=to_arrow_schema(schema)), schema
    )


_MICRO = Decimal("1e-6")
_WIDE = Context(prec=400)  # every finite double quantizes to 6 dp exactly


def spark_round6(x: float, jvm) -> float:
    """Spark's ``round(x, 6)`` of a double: the digits of java's
    ``BigDecimal.valueOf(x)``, HALF_UP.  Those digits parse back to x, and
    rounding is monotone, so when x ± 4 ulp round alike they do too; only
    a value that close to a …5e-7 tie asks the JVM for them (JDK 17's
    ``Double.toString`` is not always the shortest repr)."""
    if not math.isfinite(x):
        return x
    lo, hi = (
        Decimal(x + s * math.ulp(x)).quantize(_MICRO, ROUND_HALF_UP, _WIDE) for s in (-4, 4)
    )
    if lo == hi:
        return float(lo)
    return float(jvm.java.math.BigDecimal.valueOf(x).quantize(_MICRO, ROUND_HALF_UP, _WIDE))


def pack_context(
    hits: DataFrame, budget: int = CONTEXT_TOKEN_BUDGET, order_col: str = "score"
) -> DataFrame:
    """Greedy token-budget packing of ranked (query_id, chunk_text, …)
    hits (reference: main.py:355-363): keep hits while the running
    whitespace-token total ``n_tok`` stays within budget.  ``order_col``
    is the walk order — pass the rerank score when packing reranked hits."""
    with_cost = hits.withColumn("n_tok", token_count(F.col("chunk_text")))
    return greedy_budget_pack(
        with_cost, ["query_id"], order_col=order_col, cost_col="n_tok", budget=budget
    )


def lexical_overlap_scorer() -> Scorer:
    """Deterministic stub cross-encoder: word-set Jaccard (0.0 when both
    sets are empty) over the ``[a-z0-9]`` runs of the lowercased text, as
    a Column expression — no Python worker.

    Stands in for the reference's CrossEncoder.predict
    (reference: embeddings/re_rank.py:44-47) so the rerank seam is
    testable (and DuckDB-expressible) without model downloads; a real
    model plugs into the same seam as a ``(query_text, doc_text) ->
    double`` pandas UDF (:func:`cross_encoder_udf`).
    """

    def toks(x: Column) -> Column:
        return F.array_remove(F.split(F.lower(F.coalesce(x, F.lit(""))), "[^a-z0-9]+"), "")

    def scorer(q: Column, d: Column) -> Column:
        a, b = toks(q), toks(d)
        n_union = F.size(F.array_union(a, b))
        return F.when(n_union == 0, F.lit(0.0)).otherwise(
            F.size(F.array_intersect(a, b)) / n_union
        )

    return scorer


def rerank_top_k(
    hits: DataFrame,
    scorer,
    k: int,
    query_id: str = "query_id",
    query_text: str = "query_text",
    doc_text: str = "chunk_text",
    tiebreak: str | None = None,
) -> DataFrame:
    """Cross-encoder rerank hook: score each (query, passage) pair with a
    pluggable ``scorer`` into ``re_score``, keep the top-k per query by it
    as ``re_rank`` 1..k (reference: embeddings/re_rank.py:28-51 —
    CE.predict + argsort[:top_k]).

    ``scorer`` maps (query, doc) Columns to a score Column: an expression
    (:func:`lexical_overlap_scorer`) or a pandas UDF
    (:func:`cross_encoder_udf`).  The batch analog scores every candidate
    (the reference's skip-when-len<=k short-circuit is a serving-latency
    optimization; queries with ≤ k candidates keep all rows here too,
    just re-ordered by the new score).  The top-k is a per-query window.
    """
    order = [F.col("re_score").desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        hits.withColumn("re_score", scorer(F.col(query_text), F.col(doc_text)))
        .withColumn("re_rank", F.row_number().over(w))
        .filter(F.col("re_rank") <= k)
    )


def ask(
    index: DataFrame, queries: DataFrame, k: int, rerank_k: int, budget: int, scorer: Scorer
) -> DataFrame:
    """The `/ask` request (reference: main.py:355-421) over a
    :func:`build_passage_index` table for ``queries`` (query_id,
    query_text): exact top-``k`` with the threshold cascade → rerank to
    ``rerank_k`` → greedy ``budget``-token packing, walked in ``re_rank``
    order (unique per query, so a budget cut on a score tie is
    deterministic).  Returns (query_id, passage_id, score, re_score, rank,
    n_tok).

    Under :func:`retrieve`'s size gate the top-k comes from the resident
    snapshot, so ``ask`` runs the query-embedding job when it is called.
    """
    hits = retrieve(index, queries, k=k)
    passages = index.select(
        passage_id(F.col("doc_id"), F.col("chunk_index")).alias("__pid"), "chunk_text"
    )
    pairs = hits.join(queries, "query_id").join(F.broadcast(passages), "__pid")
    reranked = rerank_top_k(pairs, scorer, k=rerank_k, tiebreak="__pid").withColumn(
        "n_tok", token_count(F.col("chunk_text"))
    )
    packed = greedy_budget_pack(
        reranked, ["query_id"], order_col="re_rank", cost_col="n_tok",
        budget=budget, ascending=True,
    )
    return packed.select(
        "query_id",
        F.col("__pid").alias("passage_id"),
        "score",
        F.round("re_score", 6).alias("re_score"),
        F.col("re_rank").alias("rank"),
        "n_tok",
    )


def recall_at_k(
    hits: DataFrame, golden: DataFrame, hit_doc: str = "doc_id", k: int = 10
) -> DataFrame:
    """recall@K of ranked (query_id, ``hit_doc``, rank) hits over a golden
    (query_id, expected_doc_id) label set (reference:
    eval_snapshot.py:91-100).

    One row: (n_queries, n_hit, recall).  ``golden`` is read once: a left
    join to the distinct top-K (query, doc) pairs flags each label, and a
    query is a hit when any of its labels is.  A null query id is one
    query that never hits.
    """
    topk = (
        hits.filter(F.col("rank") <= k)
        .select(F.col("query_id").alias("__q"), F.col(hit_doc).alias("__d"))
        .distinct()
    )
    per_query = (
        golden.join(
            topk,
            (golden["query_id"] == topk["__q"]) & (golden["expected_doc_id"] == topk["__d"]),
            "left",
        )
        .groupBy("query_id")
        .agg(F.max(F.col("__q").isNotNull().cast("int")).alias("hit"))
    )
    return per_query.agg(
        F.count("*").alias("n_queries"),
        F.sum("hit").alias("n_hit"),
        F.round(F.avg("hit"), 6).alias("recall"),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    rank_a: str,
    rank_b: str,
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion of two ranked candidate lists (hybrid
    lexical+vector retrieval; Cormack et al., SIGIR'09).

    rrf(d) = Σ_lists 1/(k0 + rank_list(d)), a document absent from a
    list contributing 0.  Because the score is derived ONLY from small
    integer ranks, both engines compute bit-identical doubles — no
    ln()/sum-order hazard — so ordering on the raw score is stable.
    Fixed addition order (list a, then b); ties (symmetric rank swaps)
    break on id.

    Scale: a full-outer join of two k-row lists per query and a top-k —
    nothing corpus-sized; the expensive work happened upstream in the
    per-list retrievers.
    """
    a = ranked_a.select(F.col(id_col).alias("id"), F.col(rank_a).alias("ra"))
    b = ranked_b.select(F.col(id_col).alias("id"), F.col(rank_b).alias("rb"))
    fused = a.join(b, "id", "full_outer").select(
        "id",
        (
            F.coalesce(1.0 / (F.lit(k0) + F.col("ra")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k0) + F.col("rb")), F.lit(0.0))
        ).alias("rrf"),
    )
    topk = fused.orderBy(F.col("rrf").desc(), F.col("id").asc()).limit(k)
    w = Window.orderBy(F.col("rrf").desc(), F.col("id").asc())
    return topk.withColumn("rnk", F.row_number().over(w)).select(
        "id", F.round("rrf", 6).alias("rrf"), "rnk"
    )


def mmr_rerank(
    cands: DataFrame,
    query_id: str,
    cand_id: str,
    score_col: str,
    vec_col: str,
    k: int = 3,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR'98): greedily select ``k`` of each query's
    candidates maximizing

        λ·rel(c) − (1−λ)·max_{s ∈ selected} cos(c, s)

    — the standard fix for top-k lists full of near-duplicates (which a
    dedup'd-but-not-perfectly corpus always produces).

    One Arrow task per query (``applyInPandas``): the candidate set is
    an upstream top-N (small by contract — the same bounded-fanout
    contract as rerank_top_k), so the greedy loop is an in-memory numpy
    matmul per query, never a cross join.  Engine-stable determinism:
    every quantity entering a comparison is rounded to 6 dp (relevance
    upstream, pairwise cosines, marginals) and ties break to the
    smallest candidate id — the DuckDB oracle unrolls the identical
    greedy steps.

    Returns (query_id, cand_id, mmr_rank, mmr_score).
    """
    import numpy as np

    id_types = dict(cands.dtypes)
    out_schema = (
        f"{query_id} {id_types[query_id]}, {cand_id} {id_types[cand_id]}, "
        "mmr_rank long, mmr_score double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(cand_id, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        V = V / norms[:, None]
        sims = np.round(V @ V.T, 6)
        rel = pdf[score_col].to_numpy(dtype=np.float64)
        ids = pdf[cand_id].to_numpy()
        selected: list[int] = []
        maxsim = np.zeros(n)
        out_rows = []
        avail = np.ones(n, dtype=bool)
        for step in range(1, min(k, n) + 1):
            if step == 1:
                marg = np.round(lam * rel, 6)
            else:
                marg = np.round(lam * rel - (1.0 - lam) * maxsim, 6)
            # argmax with smallest-id tiebreak: ids are ascending, so
            # the FIRST occurrence of the max marginal wins
            cand_idx = np.where(avail)[0]
            pick = cand_idx[np.argmax(marg[cand_idx])]
            out_rows.append(
                (pdf[query_id].iloc[0], ids[pick], step, float(marg[pick]))
            )
            avail[pick] = False
            selected.append(pick)
            maxsim = np.maximum(maxsim, sims[:, pick])
        return pd.DataFrame(
            out_rows, columns=[query_id, cand_id, "mmr_rank", "mmr_score"]
        )

    return cands.groupBy(query_id).applyInPandas(kernel, out_schema)


def weighted_fuse(
    scored_a: DataFrame,
    scored_b: DataFrame,
    id_col: str,
    score_a: str,
    score_b: str,
    w_a: float = 0.6,
    w_b: float = 0.4,
    k: int = 10,
) -> DataFrame:
    """Min-max-normalized weighted score fusion of two candidate lists —
    the score-level complement of :func:`rrf_fuse` (rank-level): each
    list's scores normalize to [0, 1] over ITS OWN candidates, then
    combine as w_a·norm_a + w_b·norm_b (absent side contributes 0).

    Cross-engine determinism: inputs are the retrievers' round-6
    scores, so min/max/normalize/combine are identical double
    arithmetic in both engines (the ln() ulp hazard was already
    absorbed upstream); final ordering ties break on id.  A
    degenerate all-equal list normalizes to 1.0 (max==min guard).

    Scale: two global min/max windows over k-row candidate lists plus
    one full-outer join — nothing corpus-sized.
    """
    wall = Window.partitionBy()

    def norm(df, sc):
        mn, mx = F.min(sc).over(wall), F.max(sc).over(wall)
        return df.select(
            F.col(id_col).alias("id"),
            F.when(mx == mn, F.lit(1.0))
            .otherwise((F.col(sc) - mn) / (mx - mn))
            .alias("n"),
        )

    a = norm(scored_a, score_a).withColumnRenamed("n", "na")
    b = norm(scored_b, score_b).withColumnRenamed("n", "nb")
    fused = a.join(b, "id", "full_outer").select(
        "id",
        (
            F.lit(w_a) * F.coalesce("na", F.lit(0.0))
            + F.lit(w_b) * F.coalesce("nb", F.lit(0.0))
        ).alias("fused"),
    )
    w = Window.orderBy(F.round("fused", 6).desc(), F.col("id").asc())
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id", F.round("fused", 6).alias("fused"), "rnk")
    )


# --------------------------------------------------- real-model UDF builders

def sentence_transformer_udf(
    model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
    batch_size: int = 64,
):
    """Real-model pandas UDF for the :func:`embed` seam (reference:
    embeddings/build_faiss.py:69-85 — SentenceTransformer.encode with
    batch_size=64, normalize_embeddings=True).

    SCALAR_ITER shape: the model loads ONCE per task before the batch
    loop (the distributed analog of the reference's module-level model
    singleton), then encodes Arrow batches.  Raises ImportError at
    BUILD time when sentence-transformers is absent so a misconfigured
    cluster fails on the driver, not task-by-task on executors; the
    deterministic :func:`stats_model_udf` / :func:`hash_embed` remain
    the model-free twins (parity gated by embed_seam_parity).
    """
    import importlib.util

    if importlib.util.find_spec("sentence_transformers") is None:
        raise ImportError(
            "sentence-transformers is not installed; use "
            "stats_model_udf()/hash_embed for the deterministic seam"
        )

    @F.pandas_udf("array<float>")
    def model(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from sentence_transformers import SentenceTransformer

        m = SentenceTransformer(model_name)  # once per task
        for texts in batches:
            vecs = m.encode(
                texts.fillna("").tolist(),
                batch_size=batch_size,
                normalize_embeddings=True,
                show_progress_bar=False,
            )
            yield pd.Series([[float(x) for x in v] for v in vecs])

    return model


def cross_encoder_udf(
    model_name: str = "cross-encoder/ms-marco-MiniLM-L-6-v2",
    batch_size: int = 64,
):
    """Real cross-encoder scorer for :func:`rerank_top_k` (reference:
    embeddings/re_rank.py:28-51 — CrossEncoder.predict over
    (query, passage) pairs, lazy-cached model re_rank.py:20-24).

    Same contract as :func:`lexical_overlap_scorer`:
    ``(query_text, doc_text) -> double``; same build-time import guard
    as :func:`sentence_transformer_udf`.
    """
    import importlib.util

    if importlib.util.find_spec("sentence_transformers") is None:
        raise ImportError(
            "sentence-transformers is not installed; use "
            "lexical_overlap_scorer() for the deterministic seam"
        )

    @F.pandas_udf("double")
    def scorer(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        from sentence_transformers import CrossEncoder

        m = CrossEncoder(model_name)  # once per task
        for q, d in batches:
            pairs = list(zip(q.fillna(""), d.fillna("")))
            scores = m.predict(pairs, batch_size=batch_size)
            yield pd.Series([float(s) for s in scores])

    return scorer
