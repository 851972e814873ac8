"""Batch driver pipelines: the reference's orchestrated flows as plain
DataFrame job compositions.

Re-expresses the `continuous_nas` daily flow (reference:
pipelines/flows/continuous.py:8-38, deployments/nas_daily.py:19-32):

1. find the first unprocessed month since the corpus epoch
   (reference: pipelines/tasks/fetch_clean.py:35-53 probes directory
   existence; here it is a set difference on the driver: the sink's
   ``year=/month=`` directories are listed, never read, and the source's
   months come from one distinct-months job),
2. drop the month's MinHash near-duplicates of earlier docs, then clean +
   chunk + embed the survivors (partition pruning scans one month only),
3. stage the passages and gate recall@K over them plus the committed
   months; FAIL the run if it regresses, sink untouched (reference:
   continuous.py:34-36, hard floor 0.80),
4. only then rename the month into the sink (replaces skip-if-exists,
   reference: ingestion/pipeline.py:78-81): a failed month stays the
   first missing one.

Prefect process hops become Spark stage boundaries; a cron scheduler
drives `continuous_update` instead of a workflow engine.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from knowledge_model_spark.operators.dedup import minhash_incremental_survivors
from knowledge_model_spark.operators.retrieval import (
    build_passage_index,
    passage_doc_id,
    recall_at_k,
    retrieve,
)

RECALL_FLOOR = 0.80  # reference: continuous.py:34-36


class RecallGateError(RuntimeError):
    """Raised when the pre-commit retrieval quality gate fails."""


@dataclass(frozen=True)
class MonthReport:
    year: int
    month: int
    n_docs: int
    n_passages: int
    recall: float


def first_missing_month(source: DataFrame, sink_path: str) -> tuple[int, int] | None:
    """Earliest (year, month) present in the source but absent from the
    sink's partitions — the watermark-by-directory pattern
    (reference: fetch_clean.py:35-53) as a set difference on the driver:
    the source's distinct months, collected, minus the sink's.

    Lists the sink's ``year=*/month=*`` directories, never its data; a
    month that kept no passages is one too, empty (Spark's reads skip it).
    """
    done = {
        tuple(int(d.split("=", 1)[1]) for d in path.split(os.sep)[-2:])
        for path in glob.glob(os.path.join(glob.escape(sink_path), "year=*", "month=*"))
    }
    months = {tuple(r) for r in source.select("year", "month").distinct().collect()}
    return min(months - done, default=None)


def process_month(source: DataFrame, year: int, month: int) -> DataFrame:
    """Clean → chunk → hash-embed one month of documents (the §3.2 ingest
    body).  The month filter sits directly on the partition columns, so
    Catalyst prunes every other month at the scan."""
    docs = source.filter((F.col("year") == year) & (F.col("month") == month))
    passages = build_passage_index(docs)
    return passages.withColumn("year", F.lit(year)).withColumn("month", F.lit(month))


def ingest_tick(
    source: DataFrame, year: int, month: int, sink: str, gate_queries: DataFrame | None = None
) -> MonthReport:
    """One month of ``source`` into the partitioned ``sink``, all or
    nothing: dedup → process → stage → gate → commit.

    The docs are deduped first-seen-wins against the sketch store at
    ``<sink>/_sketches`` and the survivors' passages staged at
    ``<sink>/_staging``; Spark lists neither as part of the sink.  With
    ``gate_queries`` (query_id, query_text, expected_doc_id), recall@10
    over the other committed months plus the staged one must reach
    ``RECALL_FLOOR``, else :class:`RecallGateError` with the sink
    untouched.  The commit is :func:`swap_dir` of the month's partition.
    A retry after any fault dooms the same docs.
    """
    spark = source.sparkSession
    docs = source.filter((F.col("year") == year) & (F.col("month") == month))
    survivors = minhash_incremental_survivors(
        docs, "doc_id", "text", os.path.join(sink, "_sketches")
    )
    passages = process_month(survivors, year, month)
    staging = os.path.join(sink, "_staging")
    try:
        passages.write.mode("overwrite").partitionBy("year", "month").parquet(staging)
        staged = spark.read.schema(passages.schema).parquet(staging)
        n_passages, n_docs = staged.agg(F.count("*"), F.countDistinct("doc_id")).first()
        recall = 1.0
        if gate_queries is not None:
            others = spark.read.schema(passages.schema).parquet(sink).filter(
                (F.col("year") != year) | (F.col("month") != month)
            )
            hits = retrieve(others.unionByName(staged), gate_queries).withColumn(
                "doc_id", passage_doc_id(F.col("__pid"))
            )
            recall = float(recall_at_k(hits, gate_queries, k=10).first()["recall"])
            if recall < RECALL_FLOOR:
                raise RecallGateError(
                    f"recall@10 {recall:.3f} < floor {RECALL_FLOOR} after "
                    f"ingesting {year}-{month:02d}"
                )
        part = os.path.join(f"year={year}", f"month={month}")
        new, dest = os.path.join(staging, part), os.path.join(sink, part)
        os.makedirs(new, exist_ok=True)  # a month that kept no passages commits empty
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        swap_dir(new, dest, os.path.join(staging, "_old"))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return MonthReport(year, month, n_docs, n_passages, recall)


def swap_dir(new: str, dest: str, retired: str) -> None:
    """Rename directory ``new`` to ``dest``.  A ``dest`` already there is
    renamed to ``retired`` first and deleted last, so a crash at any point
    leaves a complete copy at ``dest`` or ``retired``, never a torn one."""
    shutil.rmtree(retired, ignore_errors=True)
    if os.path.exists(dest):
        os.replace(dest, retired)
    os.replace(new, dest)
    shutil.rmtree(retired, ignore_errors=True)


def continuous_update(
    source: DataFrame,
    sink_path: str,
    eval_queries: DataFrame | None = None,
) -> MonthReport | None:
    """One tick of the continuous flow: :func:`ingest_tick` of the first
    missing month, gated on recall@10 over ``eval_queries``.

    Returns None when the sink is already caught up.  Raises
    :class:`RecallGateError` when the gate fails — the flow failure of
    the reference (continuous.py:34-36) — and commits nothing, so the
    next call redoes the same month.
    """
    nxt = first_missing_month(source, sink_path)
    if nxt is None:
        return None
    return ingest_tick(source, *nxt, sink_path, eval_queries)


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
