"""Retrieval tests: the embed seam (reference: build_faiss.py:69-85),
fusion and MMR, ask(), and retrieve's driver-resident path against its
Spark plan.
"""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from knowledge_model_spark.operators import retrieval


def test_embed_seam_injected_model_and_default(spark):
    """embed() routes text through an injected pandas-UDF model verbatim
    and ships its vectors unchanged; the default path is hash_embed."""
    import math

    from knowledge_model_spark.operators.retrieval import embed, stats_model_udf

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta"), (2, "")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["v"]
        for r in embed(docs, "text", model_udf=stats_model_udf(), out_col="v").collect()
    }

    def expected(t):
        v = [
            float(len(t)),
            float(len([w for w in t.split() if w])),
            float(sum(t.lower().count(c) for c in "aeiou")),
            1.0,
        ]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    for doc_id, text in [(0, "alpha beta gamma"), (1, "delta"), (2, "")]:
        assert out[doc_id] == pytest.approx(expected(text), abs=1e-12)

    # default path: hash_embed, L2-normalized, deterministic
    dft = embed(docs.filter("doc_id < 2"), "text", dim=16, out_col="v").collect()
    for r in dft:
        assert abs(sum(x * x for x in r["v"]) - 1.0) < 1e-9

    # downstream parity: retrieval over injected-model vectors behaves
    # like retrieval over any normalized vector column (cosine of a doc
    # with itself is 1.0)
    from knowledge_model_spark.operators.similarity import brute_force_top_k

    vecs = embed(docs, "text", model_udf=stats_model_udf(), out_col="v")
    qs = vecs.filter("doc_id = 0").select(
        F.col("doc_id").alias("qid"), F.col("v").alias("qv")
    )
    top = brute_force_top_k(
        vecs, qs, "doc_id", "v", "qid", "qv", k=1, normalized=True
    ).collect()
    assert top[0]["doc_id"] == 0 and top[0]["score"] == pytest.approx(1.0)


def test_rrf_fuse_exact_values(spark):
    from knowledge_model_spark.operators.retrieval import rrf_fuse
    from pyspark.sql import functions as F

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "ra"])
    b = spark.createDataFrame([(3, 1), (4, 2)], ["id", "rb"])
    got = {r["id"]: (r["rrf"], r["rnk"]) for r in rrf_fuse(a, b, "id", "ra", "rb").collect()}
    # doc 3: in both lists; docs 1,2 lexical-only; doc 4 vector-only
    assert got[3] == (round(1 / 63 + 1 / 61, 6), 1)
    assert got[1] == (round(1 / 61, 6), 2)
    # ids 2 and 4 tie at 1/62 — id-ascending tiebreak
    assert got[2] == (round(1 / 62, 6), 3)
    assert got[4] == (round(1 / 62, 6), 4)


def test_mmr_rerank_diversifies(spark):
    """Plain top-3 picks the three near-identical high scorers; MMR must
    swap in the diverse candidate despite its lower relevance."""
    from knowledge_model_spark.operators.retrieval import mmr_rerank

    rows = [
        # three near-duplicate vectors with top relevance
        ("q", 1, 0.99, [1.0, 0.0, 0.0]),
        ("q", 2, 0.98, [0.999, 0.01, 0.0]),
        ("q", 3, 0.97, [0.998, 0.02, 0.0]),
        # orthogonal, lower relevance
        ("q", 4, 0.60, [0.0, 1.0, 0.0]),
        ("q", 5, 0.50, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["qid", "cid", "score", "vec"])
    out = {r["mmr_rank"]: r["cid"] for r in
           mmr_rerank(df, "qid", "cid", "score", "vec", k=3, lam=0.5).collect()}
    assert out[1] == 1          # highest relevance first
    assert set(out.values()) == {1, 4, 5}  # then the two orthogonal ones


def test_mmr_rerank_k_exceeds_candidates(spark):
    from knowledge_model_spark.operators.retrieval import mmr_rerank

    rows = [("q", 1, 0.9, [1.0, 0.0]), ("q", 2, 0.8, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["qid", "cid", "score", "vec"])
    got = mmr_rerank(df, "qid", "cid", "score", "vec", k=10).collect()
    assert sorted(r["mmr_rank"] for r in got) == [1, 2]


def test_scalar_iter_model_udf_matches_scalar_form(spark, tables):
    """The SCALAR_ITER embed seam (per-task init before the batch loop)
    must produce exactly the vectors of the SCALAR form."""
    from knowledge_model_spark.operators.retrieval import (
        embed,
        stats_model_iter_udf,
        stats_model_udf,
    )

    docs = tables["documents"].select("doc_id", "text").limit(100)
    a = embed(docs, "text", model_udf=stats_model_udf()).collect()
    b = embed(docs, "text", model_udf=stats_model_iter_udf()).collect()
    am = {r["doc_id"]: r["vector"] for r in a}
    bm = {r["doc_id"]: r["vector"] for r in b}
    assert am == bm


def test_weighted_fuse_normalization_and_absent_side(spark):
    from knowledge_model_spark.operators.retrieval import weighted_fuse

    lex = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 0.0)], "id long, sa double"
    )
    vec = spark.createDataFrame([(2, 0.9), (4, 0.1)], "id long, sb double")
    out = {r["id"]: r["fused"] for r in
           weighted_fuse(lex, vec, "id", "sa", "sb", w_a=0.6, w_b=0.4, k=10).collect()}
    # lex norms: 1 -> 1.0, 2 -> 0.5, 3 -> 0.0 ; vec norms: 2 -> 1.0, 4 -> 0.0
    assert out[1] == 0.6          # lex only
    assert out[2] == 0.7          # 0.6*0.5 + 0.4*1.0
    assert out[3] == 0.0
    assert out[4] == 0.0          # vec-only, normalized to 0


def test_weighted_fuse_degenerate_equal_scores(spark):
    from knowledge_model_spark.operators.retrieval import weighted_fuse

    lex = spark.createDataFrame([(1, 3.0), (2, 3.0)], "id long, sa double")
    vec = spark.createDataFrame([(1, 0.5)], "id long, sb double")
    out = {r["id"]: r["fused"] for r in
           weighted_fuse(lex, vec, "id", "sa", "sb").collect()}
    # all-equal lex list normalizes to 1.0 (max==min guard), vec too
    assert out[1] == 1.0 and out[2] == 0.6


# entry() on the sf0.001 fixture, captured before ask() existed:
# (query_id, passage_id, score, re_score, rank, n_tok)
ENTRY_GOLDEN = [
    ('0', '0#0', 0.964486, 0.888889, 2, 23),
    ('0', '399#1', 0.822613, 0.538462, 4, 43),
    ('0', '41#0', 0.84919, 0.538462, 5, 45),
    ('0', '50#0', 0.9759, 0.941176, 1, 22),
    ('0', '82#0', 0.932505, 0.888889, 3, 24),
    ('1', '1#0', 0.773137, 0.62963, 1, 56),
    ('1', '20#0', 0.759727, 0.571429, 3, 57),
    ('1', '375#0', 0.762821, 0.583333, 2, 35),
    ('2', '2#0', 0.811045, 0.586207, 3, 57),
    ('2', '371#0', 0.784155, 0.64, 1, 43),
    ('2', '478#0', 0.758333, 0.555556, 4, 39),
    ('2', '90#1', 0.795395, 0.64, 2, 33),
    ('3', '394#1', 0.813958, 0.413793, 4, 51),
    ('3', '452#0', 0.765954, 0.583333, 1, 37),
    ('3', '462#0', 0.784778, 0.464286, 3, 51),
    ('3', '470#0', 0.770837, 0.5, 2, 54),
    ('4', '291#0', 0.809917, 0.607143, 4, 57),
    ('4', '376#0', 0.833393, 0.615385, 3, 55),
    ('4', '4#0', 0.930342, 0.809524, 1, 31),
    ('4', '40#0', 0.826033, 0.631579, 2, 22),
    ('5', '109#1', 0.844357, 0.62963, 4, 46),
    ('5', '309#0', 0.841151, 0.703704, 3, 56),
    ('5', '450#0', 0.896653, 0.791667, 1, 42),
    ('5', '5#0', 0.891485, 0.76, 2, 43),
    ('6', '217#0', 0.778887, 0.518519, 4, 54),
    ('6', '277#1', 0.862443, 0.521739, 3, 24),
    ('6', '348#0', 0.852418, 0.615385, 1, 51),
    ('6', '42#0', 0.880985, 0.535714, 2, 59),
    ('7', '293#0', 0.831068, 0.576923, 2, 54),
    ('7', '48#0', 0.866025, 0.52, 3, 42),
    ('7', '7#0', 0.824958, 0.625, 1, 44),
    ('7', '95#0', 0.816614, 0.518519, 4, 47),
]


def test_entry_ask_golden_and_rerun_stable(spark):
    """entry() — load → build_passage_index → ask() — returns the
    captured rows, with its schema, and a same-session rerun is identical."""
    import __spark_entry__

    df = __spark_entry__.entry(spark)
    assert df.columns == ["query_id", "passage_id", "score", "re_score", "rank", "n_tok"]
    first = sorted(tuple(r) for r in df.collect())
    assert first == ENTRY_GOLDEN
    assert sorted(tuple(r) for r in __spark_entry__.entry(spark).collect()) == first


def test_ask_pack_cut_on_rerank_tie_is_order_independent(spark):
    """Two passages tie on both scores and the budget cut falls between
    them: ask() keeps the one with the smaller passage id, whatever the
    input row order."""
    from knowledge_model_spark.functions.vectors import hash_embed
    from knowledge_model_spark.operators.retrieval import ask, lexical_overlap_scorer

    query = spark.createDataFrame([("q", "alpha beta gamma")], "query_id string, query_text string")
    rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma delta"), (3, "alpha beta gamma delta")]

    def kept(order):
        index = spark.createDataFrame(
            [(rows[i][0], 0, rows[i][1]) for i in order],
            "doc_id long, chunk_index int, chunk_text string",
        ).withColumn("vector", hash_embed(F.col("chunk_text"), 64))
        out = ask(index, query, k=3, rerank_k=3, budget=3 + 4,
                  scorer=lexical_overlap_scorer()).collect()
        return sorted((r["passage_id"], r["re_score"], r["rank"], r["n_tok"]) for r in out)

    want = [("1#0", 1.0, 1, 3), ("2#0", 0.75, 2, 4)]
    assert kept([0, 1, 2]) == want
    assert kept([0, 2, 1]) == want


# ------------------------------------------------ resident retrieve path

_RESIDENT_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spark_path(fn):
    """Run ``fn`` with the size gate at 0 bytes, so retrieve takes the
    Spark plan for every index."""
    with mock.patch.object(retrieval, "RESIDENT_MAX_BYTES", 0):
        return fn()


@pytest.fixture(scope="module")
def tie_index(tables):
    """The sf0.001 passage index plus a copy of its first ten documents'
    passages under doc_id + 100000: every copied vector scores exactly
    like its original, so queries on them tie and __pid breaks the tie."""
    index = retrieval.build_passage_index(tables["documents"])
    copies = index.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 100000)
    texts = [r["chunk_text"] for r in index.filter(F.col("doc_id") < 10).collect()]
    return index.unionByName(copies), texts


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.one_of(
                st.none(),
                st.sampled_from(["", " ", "\t\n"]),
                st.tuples(st.integers(0, 10_000), st.integers(0, 299), st.integers(1, 200)),
            ),
        ),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(1, 12),
)
@example(rows=[("a", (0, 0, 300)), ("b", (3, 0, 300))], k=1)
@example(rows=[("a", (0, 0, 300)), ("a", (1, 0, 300)), (None, (2, 0, 300)), (None, None)], k=3)
@settings(**_RESIDENT_SETTINGS)
def test_resident_retrieve_equals_spark_path(spark, tie_index, rows, k):
    """retrieve answers from the driver-resident snapshot with exactly the
    Spark plan's rows and schema: random spans, duplicate and null
    query ids, None, empty and whitespace text, and exact score ties at
    the k-th rank (ties break by __pid)."""
    index, texts = tie_index

    def text(spec):
        if not isinstance(spec, tuple):
            return spec
        t = texts[spec[0] % len(texts)]
        return t[spec[1] % len(t):][: spec[2]]

    queries = spark.createDataFrame(
        [(qid, text(spec)) for qid, spec in rows], "query_id string, query_text string"
    )
    resident = retrieval.retrieve(index, queries, k=k)
    spark_hits = _spark_path(lambda: retrieval.retrieve(index, queries, k=k))
    assert "BroadcastNestedLoopJoin" not in _plan(resident)
    assert "BroadcastNestedLoopJoin" in _plan(spark_hits)
    assert resident.schema == spark_hits.schema

    def key(r):
        return (str(r["query_id"]), r["rank"], r["__pid"], r["score"])

    assert sorted(resident.collect(), key=key) == sorted(spark_hits.collect(), key=key)


def test_resident_snapshot_follows_parquet_appends(spark, tables, tmp_path):
    """Appending a file to a Parquet index and reading it again is a new
    snapshot that includes the new passages; the old read keeps its own
    file listing and answers as before."""
    path = str(tmp_path / "index")
    index = retrieval.build_passage_index(tables["documents"].filter(F.col("doc_id") < 40))
    index.filter(F.col("doc_id") < 20).write.parquet(path)
    target = index.filter(F.col("doc_id") == 30).first()
    queries = spark.createDataFrame([("q", target["chunk_text"])], "query_id string, query_text string")
    want = f"30#{target['chunk_index']}"

    before = spark.read.parquet(path)
    assert want not in {r["__pid"] for r in retrieval.retrieve(before, queries).collect()}
    index.filter(F.col("doc_id") >= 20).write.mode("append").parquet(path)
    after = spark.read.parquet(path)
    hits = retrieval.retrieve(after, queries)
    assert "BroadcastNestedLoopJoin" not in _plan(hits)
    assert (want, 1) in {(r["__pid"], r["rank"]) for r in hits.collect()}
    assert want not in {r["__pid"] for r in retrieval.retrieve(before, queries).collect()}
    assert len(retrieval._SNAPSHOTS) <= 2


def test_retrieve_runs_spark_plan_above_gate_and_for_ineligible_index(spark):
    """Over the size gate, and for an index with a null or short vector or
    a nondeterministic plan, retrieve runs the Spark plan; an ineligible
    snapshot is remembered instead of being loaded again."""
    import pandas as pd

    from knowledge_model_spark.functions.vectors import hash_embed

    texts = ["alpha beta gamma", "alpha beta", "delta epsilon", "alpha gamma"]
    queries = spark.createDataFrame([("q", "alpha beta gamma")], "query_id string, query_text string")
    vectors = [
        r[0] for r in spark.createDataFrame(pd.DataFrame({"t": texts}))
        .select(hash_embed(F.col("t"), 64)).collect()
    ]

    def local_index(vecs):  # a LocalRelation, whose size Catalyst knows
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(vecs)), "chunk_index": 0, "vector": vecs}),
            "doc_id long, chunk_index int, vector array<double>",
        )

    good = local_index(vectors)
    want = sorted(tuple(r) for r in retrieval.retrieve(good, queries).collect())
    assert want and "BroadcastNestedLoopJoin" not in _plan(retrieval.retrieve(good, queries))

    over = _spark_path(lambda: retrieval.retrieve(good, queries))
    assert "BroadcastNestedLoopJoin" in _plan(over)
    assert sorted(tuple(r) for r in over.collect()) == want

    # short, null, NaN-holding (Spark ranks NaN first) and null-holding vectors
    for bad in ([0.5] * 8, None, [float("nan")] * 64, [None] + [0.125] * 63):
        index = local_index(vectors + [bad])
        hits = retrieval.retrieve(index, queries)
        assert "BroadcastNestedLoopJoin" in _plan(hits)
        assert sorted(repr(tuple(r)) for r in hits.collect()) == sorted(
            repr(tuple(r)) for r in _spark_path(lambda: retrieval.retrieve(index, queries)).collect()
        )
        assert retrieval._SNAPSHOTS[-1][-1] is None
        with mock.patch.object(type(index), "toPandas", side_effect=AssertionError("reloaded")):
            assert "BroadcastNestedLoopJoin" in _plan(retrieval.retrieve(index, queries))

    nondeterministic = good.withColumn("noise", F.rand())
    assert "BroadcastNestedLoopJoin" in _plan(retrieval.retrieve(nondeterministic, queries))


def test_gate_bounds_the_loaded_matrix_not_just_the_plan_estimate(spark, tables):
    """A lazily built index's plan estimate follows its documents, not
    passages × dim: when the estimate passes the gate but the loaded
    matrix does not, or the load fails, retrieve runs the Spark plan and
    keeps no matrix."""
    from knowledge_model_spark.session import plan_size_bytes

    dim = 512
    index = retrieval.build_passage_index(tables["documents"].filter(F.col("doc_id") < 30), dim=dim)
    queries = spark.createDataFrame(
        [("q", index.first()["chunk_text"])], "query_id string, query_text string"
    )
    resident = retrieval.retrieve(index, queries, dim=dim)  # under the real gate
    want = sorted(tuple(r) for r in resident.collect())
    assert want and "BroadcastNestedLoopJoin" not in _plan(resident)

    big = index.filter(F.col("doc_id") < 1000)  # same rows, a new snapshot key
    estimate, matrix_bytes = plan_size_bytes(big), big.count() * dim * 8
    assert 0 < estimate < matrix_bytes
    with mock.patch.object(retrieval, "RESIDENT_MAX_BYTES", estimate):
        hits = retrieval.retrieve(big, queries, dim=dim)
        assert "BroadcastNestedLoopJoin" in _plan(hits)
        assert sorted(tuple(r) for r in hits.collect()) == want
        assert retrieval._SNAPSHOTS[-1][-1] is None

    failing = index.filter(F.col("doc_id") >= 0)
    with mock.patch.object(type(failing), "toPandas", side_effect=RuntimeError("load failed")):
        hits = retrieval.retrieve(failing, queries, dim=dim)
    assert "BroadcastNestedLoopJoin" in _plan(hits)
    assert sorted(tuple(r) for r in hits.collect()) == want
    assert retrieval._SNAPSHOTS[-1][-1] is None


def test_spark_round6_matches_spark_round(spark):
    """The driver-side rounding equals F.round(x, 6) on random doubles in
    [0.5, 1), on the doubles nearest to (and next to) sampled
    k·1e-6 + 5e-7 ties, and around the 0.55 and 0.75 thresholds."""
    import math

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(20261017)
    xs = list(rng.uniform(0.5, 1.0, 20_000))
    ties = [k * 1e-6 + 5e-7 for k in rng.integers(500_000, 1_000_000, 400)]
    ties += [0.5499995, 0.55, 0.7499995, 0.75, 0.5500005, 0.7500005]
    for t in ties:
        lo = hi = t
        for _ in range(3):
            lo, hi = math.nextafter(lo, 0.0), math.nextafter(hi, 2.0)
            xs += [lo, hi]
        xs.append(t)
    want = [
        r[0] for r in spark.createDataFrame(pd.DataFrame({"x": xs}))
        .select(F.round("x", 6)).collect()
    ]
    jvm = spark._jvm
    assert [retrieval.spark_round6(x, jvm) for x in xs] == want


def test_resident_snapshots_under_concurrent_callers(spark):
    """Threads that retrieve from three indexes at once, with frequent
    thread switches, all get the single-threaded answers, and at most two
    snapshots stay resident."""
    import sys
    import threading

    import pandas as pd

    from knowledge_model_spark.functions.vectors import hash_embed

    texts = ["alpha beta gamma", "alpha beta", "alpha gamma delta", "beta gamma", "alpha"]
    vecs = [
        r[0] for r in spark.createDataFrame(pd.DataFrame({"t": texts}))
        .select(hash_embed(F.col("t"), 64)).collect()
    ]
    indexes = [
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(10 * n, 11 * n), "chunk_index": 0, "vector": vecs[:n]}),
            "doc_id long, chunk_index int, vector array<double>",
        )
        for n in (3, 4, 5)
    ]
    queries = spark.createDataFrame(pd.DataFrame({"query_id": ["q"], "query_text": ["alpha beta"]}))
    want = [sorted(tuple(r) for r in retrieval.retrieve(ix, queries).collect()) for ix in indexes]
    assert len({tuple(w) for w in want}) == 3
    got, errors = [], []

    def client(c):
        try:
            for i in range(4):
                ix = (c + i) % 3
                got.append((ix, sorted(tuple(r) for r in retrieval.retrieve(indexes[ix], queries).collect())))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not errors and not any(t.is_alive() for t in threads)
    assert len(got) == 24 and all(rows == want[ix] for ix, rows in got)
    assert len(retrieval._SNAPSHOTS) <= 2


def _recall_at_k_two_scans(hits, golden, k):
    """recall_at_k as first written: a semi-join for the hit queries and a
    second scan of ``golden`` for the distinct query ids (the reference)."""
    topk = hits.filter(F.col("rank") <= k).select("query_id", "doc_id")
    hit_flags = (
        golden.join(
            topk,
            (golden["query_id"] == topk["query_id"])
            & (golden["expected_doc_id"] == topk["doc_id"]),
            "left_semi",
        )
        .select("query_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        golden.select("query_id")
        .distinct()
        .join(hit_flags, "query_id", "left")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
            F.round(F.avg(F.coalesce(F.col("hit"), F.lit(0))), 6).alias("recall"),
        )
    )


_QIDS = st.sampled_from(["a", "b", "c", None])
_DOCS = st.sampled_from(["d1", "d2", "d3", None])


@given(
    golden=st.lists(st.tuples(_QIDS, _DOCS), max_size=8),
    hits=st.lists(st.tuples(_QIDS, _DOCS, st.integers(1, 6)), max_size=10),
    k=st.integers(1, 5),
)
@example(golden=[], hits=[("a", "d1", 1)], k=3)
@example(
    golden=[("a", "d1"), ("a", "d1"), ("a", "d2"), (None, "d1"), (None, None), ("b", None)],
    hits=[("a", "d1", 1), ("a", "d1", 2), (None, "d1", 1), ("b", None, 1), ("c", "d3", 1)],
    k=2,
)
@example(golden=[("a", "d1"), ("b", "d2")], hits=[("a", "d1", 4), ("b", "d2", 3)], k=3)
@settings(**_RESIDENT_SETTINGS)
def test_recall_at_k_equals_two_scan_reference(spark, golden, hits, k):
    """recall_at_k reads ``golden`` once and returns the reference's row and
    schema: null query ids (one query, never a hit), null expected and hit
    docs, duplicate golden rows, hits ranked past k, and an empty golden
    set, which gives (0, None, None)."""
    g = spark.createDataFrame(golden, "query_id string, expected_doc_id string")
    h = spark.createDataFrame(hits, "query_id string, doc_id string, rank int")
    got = retrieval.recall_at_k(h, g, k=k)
    want = _recall_at_k_two_scans(h, g, k)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    if not golden:
        assert tuple(got.first()) == (0, None, None)
