"""Batch driver pipelines: the reference's orchestrated flows as plain
DataFrame job compositions.

Re-expresses the `continuous_nas` daily flow (reference:
pipelines/flows/continuous.py:8-38, deployments/nas_daily.py:19-32):

1. find the first unprocessed month since the corpus epoch
   (reference: pipelines/tasks/fetch_clean.py:35-53 probes directory
   existence; here it is a calendar anti-join against the sink's
   partitions — pure metadata, no data scan),
2. clean + chunk + embed exactly that month (partition pruning limits
   the scan to one month of a 100 TB corpus),
3. write it as one idempotent dynamic-overwrite partition
   (replaces skip-if-exists, reference: ingestion/pipeline.py:78-81),
4. run the recall@K gate and FAIL the run if it regresses
   (reference: continuous.py:34-36, hard floor 0.80).

Prefect process hops become Spark stage boundaries; a cron scheduler (or
Structured Streaming with Trigger.AvailableNow over the landing dir)
drives `continuous_update` instead of a workflow engine.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knowledge_model_spark.operators.retrieval import build_passage_index, recall_at_k

RECALL_FLOOR = 0.80  # reference: continuous.py:34-36


class RecallGateError(RuntimeError):
    """Raised when the post-ingest retrieval quality gate fails."""


@dataclass(frozen=True)
class MonthReport:
    year: int
    month: int
    n_docs: int
    n_passages: int
    recall: float


def first_missing_month(
    spark: SparkSession, source: DataFrame, sink_path: str
) -> tuple[int, int] | None:
    """Earliest (year, month) present in the source but absent from the
    sink's partitions — the watermark-by-directory pattern
    (reference: fetch_clean.py:35-53) as a calendar anti-join.

    Reads ONLY partition values from the sink (metadata listing for a
    partitioned parquet sink), never its data.
    """
    wanted = source.select("year", "month").distinct()
    if os.path.exists(sink_path):
        have = spark.read.parquet(sink_path).select("year", "month").distinct()
        wanted = wanted.join(have, ["year", "month"], "left_anti")
    nxt = wanted.orderBy("year", "month").limit(1).collect()
    if not nxt:
        return None
    return int(nxt[0]["year"]), int(nxt[0]["month"])


def process_month(
    source: DataFrame, year: int, month: int, dim: int = 64
) -> DataFrame:
    """Clean → chunk → hash-embed one month of documents (the §3.2 ingest
    body).  The month filter sits directly on the partition columns, so
    Catalyst prunes every other month at the scan."""
    docs = source.filter((F.col("year") == year) & (F.col("month") == month))
    passages = build_passage_index(docs, dim=dim)
    return passages.withColumn("year", F.lit(year)).withColumn("month", F.lit(month))


def continuous_update(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    eval_queries: DataFrame | None = None,
    recall_floor: float = RECALL_FLOOR,
    dim: int = 64,
) -> MonthReport | None:
    """One tick of the continuous flow: process the first missing month,
    write it idempotently, gate on retrieval quality.

    Returns None when the sink is already caught up.  Raises
    :class:`RecallGateError` if the post-write recall@10 over
    ``eval_queries`` (query_id, query_text, expected_doc_id) falls below
    ``recall_floor`` — the caller decides whether to roll back the
    partition or page someone, exactly like the flow failure in the
    reference (continuous.py:34-36).
    """
    nxt = first_missing_month(spark, source, sink_path)
    if nxt is None:
        return None
    year, month = nxt
    passages = process_month(source, year, month, dim=dim)
    (
        passages.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(sink_path)
    )
    written = spark.read.parquet(sink_path).filter(
        (F.col("year") == year) & (F.col("month") == month)
    )
    n_passages, n_docs = written.agg(F.count("*"), F.countDistinct("doc_id")).first()

    recall = 1.0
    if eval_queries is not None:
        from knowledge_model_spark.operators.retrieval import passage_doc_id, retrieve

        index = spark.read.parquet(sink_path)
        hits = retrieve(index, eval_queries, dim=dim).withColumn(
            "doc_id", passage_doc_id(F.col("__pid"))
        )
        row = recall_at_k(hits, eval_queries, k=10).first()
        recall = float(row["recall"])
        if recall < recall_floor:
            raise RecallGateError(
                f"recall@10 {recall:.3f} < floor {recall_floor} after "
                f"ingesting {year}-{month:02d}"
            )
    return MonthReport(year, month, n_docs, n_passages, recall)


def audited(df: DataFrame, name: str, **metrics):
    """Attach single-scan audit metrics to a pipeline stage.

    ``metrics`` are aggregate Columns (e.g. ``rows=F.count(F.lit(1)),
    null_texts=F.count_if(F.col("text").isNull())``) evaluated by the
    SAME job that materializes ``df`` — Spark's ``Observation`` /
    ``observe`` API — so a 100 TB pipeline gets its data-quality
    counters (rows in/out, null rates, drop counts) for free instead of
    paying a second full scan per audit point.  Returns
    ``(df, observation)``; read ``observation.get`` AFTER an action on
    the returned frame.

    The reference logs ad-hoc counters between steps
    (ingestion/pipeline.py warn-and-continue tallies); this is the
    engine-native form.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[c.alias(k) for k, c in metrics.items()]), obs


def expect(
    df: DataFrame,
    rules: dict[str, Column],
    on_violation: str = "drop",
) -> tuple[DataFrame, DataFrame]:
    """Declarative row-level expectations (the Delta Live Tables
    expectations shape as plain DataFrame ops): ``rules`` maps rule name
    → boolean Column that every GOOD row must satisfy.

    Returns ``(passed, quarantined)``: rows failing ANY rule are routed
    to the quarantine frame with a ``violated_rules`` array column
    naming every failed rule (not just the first — triage needs the
    full set).  ``on_violation='keep'`` instead passes everything
    through and only annotates, for warn-mode rollouts of new rules.

    Scale: both frames derive from ONE filter expression over the same
    scan — Spark computes the rule battery per row in whole-stage
    codegen; there is no join, no second scan, and the two branches
    prune to their own columns.  Compose with :func:`audited` to count
    violations in the materializing job itself.
    """
    # coalesce(rule, false): a rule evaluating to NULL (e.g. a predicate
    # over a NULL column) counts as a VIOLATION — SQL's three-valued
    # logic would otherwise let null rows slip through every filter.
    flags = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.coalesce(rule.cast("boolean"), F.lit(False)), F.lit(name)
                )
                for name, rule in rules.items()
            ]
        )
    )
    tagged = df.withColumn("violated_rules", flags)
    bad = tagged.filter(F.size("violated_rules") > 0)
    if on_violation == "keep":
        return tagged, bad
    good = tagged.filter(F.size("violated_rules") == 0).drop("violated_rules")
    return good, bad
