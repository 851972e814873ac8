"""Bucketed-table co-located joins — the shuffle-free join pattern at scale.

The reference joins everything in-process (dict probes, reference:
knowledge_model/ingestion/pipeline.py:99-108,155-157); at 100 TB the
equivalent fact-fact equi-join shuffles both sides unless the tables are
bucketed on the join key at write time.  ``write_bucketed`` persists a
DataFrame bucketed+sorted by key into the session catalog;
``bucketed_join`` joins two such tables and — because both sides expose
the same ``HashPartitioning(key, n)`` output partitioning — Catalyst
plans a sort-merge join with NO Exchange on either side (asserted in
tests/test_bucketing.py).

Scale notes: pick bucket counts that divide evenly into executor
parallelism; bucket pruning additionally skips buckets for point
predicates on the bucket key.  Bucketing pays off when a table is
joined on the same key repeatedly (fact tables, embeddings by doc_id) —
one shuffle at write time amortized over every subsequent join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed, in-bucket-sorted catalog table."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str,
) -> DataFrame:
    """Inner-join two same-bucketed tables on their bucket key.

    With ``spark.sql.sources.bucketing.enabled`` (default true) and equal
    bucket counts, the plan contains no Exchange: each task merge-joins
    bucket i of the left with bucket i of the right.
    """
    return spark.table(left_table).join(spark.table(right_table), on)
