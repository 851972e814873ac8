"""Import-guarded real-model integration smoke (r3 verdict item 3).

When sentence-transformers is installed (NOT in the test container —
these skip cleanly there, like the faiss branch in
sources/faiss_export.py), the embed/rerank seams must run the genuine
models the reference uses (all-MiniLM-L6-v2, ms-marco-MiniLM; reference
build_faiss.py:69-85, re_rank.py:28-51) and recover planted relevance.
The deterministic twins remain the oracle-checked paths: hash_embed and
stats_model_udf for the embed seam, and lexical_overlap_scorer — a
Column expression, where the real cross-encoder is a pandas UDF — for
the rerank seam, which takes either kind of scorer.
"""

from __future__ import annotations

import pytest

st = pytest.importorskip("sentence_transformers")

DOCS = [
    (0, "the mitochondria is the powerhouse of the cell"),
    (1, "spark shuffles exchange data between executors"),
    (2, "gradient descent minimizes the training loss"),
    (3, "the hippocampus consolidates long term memory"),
    (4, "parquet stores columns with min max statistics"),
    (5, "antibodies bind antigens with high specificity"),
    (6, "the scheduler assigns tasks to idle executors"),
    (7, "transformers use attention over token embeddings"),
    (8, "the liver metabolizes drugs through cyp enzymes"),
    (9, "broadcast joins avoid shuffling the large table"),
    (10, "photosynthesis converts light into chemical energy"),
    (11, "checkpointing truncates long lineage chains"),
    (12, "neurons communicate through synaptic vesicles"),
    (13, "predicate pushdown skips non matching row groups"),
    (14, "insulin regulates glucose uptake in muscle"),
    (15, "watermarks bound state in streaming aggregations"),
    (16, "the ribosome translates mrna into protein"),
    (17, "salting spreads hot keys across partitions"),
    (18, "dna polymerase proofreads during replication"),
    (19, "adaptive execution coalesces small partitions"),
]
QUERIES = [
    (100, 0, "what part of the cell produces energy"),
    (101, 9, "how to join without shuffling the big table"),
    (102, 16, "which organelle builds proteins from mrna"),
    (103, 14, "hormone controlling blood sugar in muscles"),
    (104, 13, "skipping row groups that cannot match a filter"),
]


def test_real_embed_seam_end_to_end(spark):
    from pyspark.sql import functions as F

    from knowledge_model_spark.operators.retrieval import (
        embed,
        sentence_transformer_udf,
    )
    from knowledge_model_spark.operators.similarity import brute_force_top_k

    model = sentence_transformer_udf()
    docs = spark.createDataFrame(DOCS, "doc_id long, chunk_text string")
    qs = spark.createDataFrame(
        [(qid, txt) for qid, _, txt in QUERIES],
        "query_id long, chunk_text string",
    )
    dvec = embed(docs, model_udf=model)
    qvec = embed(qs, model_udf=model).withColumnRenamed("vector", "qvec")

    # shape parity with the reference: 384-dim, L2-normalized
    row = dvec.select(
        F.size("vector").alias("dim"),
        F.aggregate(
            "vector", F.lit(0.0), lambda a, x: a + x.cast("double") * x
        ).alias("nsq"),
    ).first()
    assert row["dim"] == 384
    assert abs(row["nsq"] - 1.0) < 1e-3

    hits = brute_force_top_k(
        dvec.select("doc_id", "vector"),
        qvec.select("query_id", "qvec"),
        corpus_id="doc_id",
        corpus_vec="vector",
        query_id="query_id",
        query_vec="qvec",
        k=1,
        normalized=True,  # the model already L2-normalizes
    )
    got = {r["query_id"]: r["doc_id"] for r in hits.collect()}
    expected = {qid: did for qid, did, _ in QUERIES}
    recall = sum(got.get(q) == d for q, d in expected.items()) / len(expected)
    assert recall >= 0.8  # the reference's recall gate


def test_real_cross_encoder_rerank(spark):
    from pyspark.sql import functions as F

    from knowledge_model_spark.operators.retrieval import (
        cross_encoder_udf,
        rerank_top_k,
    )

    scorer = cross_encoder_udf()
    pairs = spark.createDataFrame(
        [
            (1, "what produces energy in the cell", int(d), t)
            for d, t in [(r[0], r[1]) for r in DOCS[:8]]
        ],
        "query_id long, query_text string, doc_id long, chunk_text string",
    )
    top = rerank_top_k(pairs, scorer, k=1).collect()
    assert len(top) == 1 and top[0]["doc_id"] == 0
