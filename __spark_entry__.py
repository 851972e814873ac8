"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are generated from the engine's query
registry (knowledge_model_spark/plans): every oracle-checkable operator
declares a DuckDB-equivalent SQL string; xxhash64-based operators
(MinHash/SimHash/LSH-ANN) are declared without oracles and verified
against exact ground truth in tests/ instead.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from knowledge_model_spark.plans import load_registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's full
    `/ask` dataflow per SURVEY.md §3.1 — clean → chunk → embed → exact
    top-k with threshold cascade → cross-encoder rerank (stub scorer) →
    greedy context packing — for the first 8 documents' openings."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.operators.retrieval import (
        ask,
        build_passage_index,
        lexical_overlap_scorer,
    )
    from knowledge_model_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    queries = docs.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.substring("text", 1, 120).alias("query_text"),
    )
    return ask(
        build_passage_index(docs), queries,
        k=8, rerank_k=5, budget=200, scorer=lexical_overlap_scorer(),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in load_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in load_registry().items()
        if spec.oracle is not None
    }
