"""Corpus file sources/sinks: JSONL with dead-lettering, partitioned
Parquet, training-record normalization.

Replaces the reference's hand-rolled I/O:
- constant-memory JSONL iterator with malformed-line skip
  (reference: ingestion/build_faiss.py:40-66) → schema'd PERMISSIVE read
  with a ``_corrupt_record`` dead-letter split
- dual JSONL append + DB upsert + S3 upload triple-write
  (reference: ingestion/pipeline.py:66-93,181-207; upload_s3.py) →
  one partitioned Parquet write
- dual-variant training records (reference: training/train_lora.py:87-92)
  → normalized projection with coalesce
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from knowledge_model_spark.schemas import CORPUS_CHUNK_SCHEMA


def read_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Read JSONL with the explicit ``CORPUS_CHUNK_SCHEMA``; returns
    (good, dead_letter).

    PERMISSIVE mode lands malformed lines in ``_corrupt_record`` instead
    of failing the scan — the Spark-native form of the reference's
    warn-and-continue (build_faiss.py:44-48) and quarantine TSV
    (fetch_pubmed.py:83-90).  The explicit schema keeps the reader
    single-pass (no inference scan) — mandatory at 100 TB.

    No caching: caching the full corpus to satisfy Spark's
    corrupt-record-only-projection rule (which fires even on
    ``good.count()``, where pruning leaves only the corrupt-column
    filter) would spill the entire 100 TB input to executor storage.
    Both outputs instead derive from one ``text`` scan + ``from_json``
    plan — the rule only applies to raw-file scans, and for
    line-delimited JSON the text scan reads exactly the same bytes as
    the native reader, streaming, nothing materialized.
    """
    full_schema = T.StructType(
        CORPUS_CHUNK_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = spark.read.text(path).select(
        F.col("value"),
        F.from_json(
            F.col("value"),
            full_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("__r"),
    )
    good = parsed.filter(F.col("__r._corrupt_record").isNull()).select(
        *[F.col(f"__r.{f.name}").alias(f.name) for f in CORPUS_CHUNK_SCHEMA.fields]
    )
    dead = parsed.filter(F.col("__r._corrupt_record").isNotNull()).select(
        F.col("value").alias("_corrupt_record")
    )
    return good, dead


def write_partitioned(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    compression: str | None = None,
) -> None:
    """Hive-partitioned columnar sink on ``(year, month)`` — the engine's
    canonical layout.

    ``partitionBy(year, month)`` replaces the reference's hand-built
    ``data/clean/YYYY/MM/`` tree (pipeline.py:75-76) and S3 key layout
    (upload_s3.py:125-131); Catalyst prunes partitions on read for free.
    Dynamic overwrite keeps month reruns idempotent (the reference's
    skip-if-exists, pipeline.py:78-81).

    ``fmt``: "parquet" (canonical) or "orc" — both are splittable
    columnar formats with predicate pushdown and per-file statistics;
    ORC is the interchange path for Hive/Trino estates.
    """
    writer = (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .format(fmt)
    )
    if compression is not None:
        # storage/CPU trade per table: snappy (default) for hot tables,
        # zstd for cold archives (~30-50% smaller at modest CPU cost)
        writer = writer.option("compression", compression)
    writer.save(path)


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned Parquet table whose schema GREW across ingest
    months.

    ``mergeSchema`` unions the per-file schemas (new columns arrive as
    NULL for old files) — the monthly-ingest reality the reference
    handles by hand with ``rec.get(field)`` tolerant readers
    (build_faiss.py:118-122).  Merging footers costs one extra
    metadata pass at planning time, so it's an explicit opt-in reader,
    not the default scan.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def upsert_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str,
) -> None:
    """Latest-wins upsert into a ``(year, month)``-partitioned Parquet
    sink — the engine's
    MERGE: the reference's per-row lookup-then-insert
    (reference: ingestion/pipeline.py:135,181-207) becomes one set
    operation touching ONLY the partitions present in ``updates``.

    Existing rows of the affected partitions are unioned with the
    updates; ``row_number`` over (key, order_col DESC) keeps the newest
    version of each key; dynamic overwrite rewrites just those
    partitions.  Partitions without updates are never read or written —
    the property that makes this O(changed data), not O(table), at 100 TB.
    """
    from pyspark.sql import Window

    target = updates
    if os.path.exists(path):
        parts = updates.select("year", "month").distinct()
        existing = spark.read.parquet(path).join(
            F.broadcast(parts), ["year", "month"], "left_semi"
        )
        target = existing.unionByName(updates)
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
    merged = (
        target.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month")
        .parquet(path)
    )


def normalize_training_records(df: DataFrame) -> DataFrame:
    """Normalize dual-variant training records to one text column.

    {"text": ...} rows pass through; {"instruction","output"} rows become
    an instruction-formatted string; rows that are neither are dropped
    (reference: train_lora.py:87-111).
    """
    rendered = F.when(
        F.col("text").isNotNull() & (F.length("text") > 0), F.col("text")
    ).when(
        F.col("instruction").isNotNull() & F.col("output").isNotNull(),
        F.concat(
            F.lit("### Instruction:\n"),
            F.col("instruction"),
            F.lit("\n### Response:\n"),
            F.col("output"),
        ),
    )
    return (
        df.withColumn("train_text", rendered)
        .filter(F.col("train_text").isNotNull())
        .select("train_text")
    )


def weighted_corpus_merge(
    raw: DataFrame, instruct: DataFrame, raw_weight: float = 0.8
) -> DataFrame:
    """≈80/20 weighted merge of raw corpus + instruction pairs
    (reference: pipeline_runner.py:49-57 — the merge script it invokes is
    absent from the snapshot; semantics reconstructed as weighted union).

    Downsamples the over-represented side so the output ratio approaches
    raw_weight : (1 - raw_weight) without ever collecting to the driver
    (``sample`` seed 42, so reruns keep the same rows).

    Sizing uses ONE zero-column counting job over both corpora (tagged
    union → groupBy(side).count()) instead of two eager ``count()``
    scans; only two (side, n) rows reach the driver.
    """
    counts = {
        r["side"]: r["n"]
        for r in raw.select(F.lit("raw").alias("side"))
        .unionByName(instruct.select(F.lit("ins").alias("side")))
        .groupBy("side")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_raw, n_ins = counts.get("raw", 0), counts.get("ins", 0)
    if n_raw == 0 or n_ins == 0:
        return raw.unionByName(instruct, allowMissingColumns=True)
    target_ins = n_raw * (1 - raw_weight) / raw_weight
    if n_ins > target_ins:
        instruct = instruct.sample(fraction=min(1.0, target_ins / n_ins), seed=42)
    else:
        raw = raw.sample(
            fraction=min(1.0, n_ins * raw_weight / (1 - raw_weight) / n_raw), seed=42
        )
    return raw.unionByName(instruct, allowMissingColumns=True)


def read_csv_deadletter(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """Schema'd CSV/TSV reader; drops the header line (the schema's field
    names joined by ``sep``) and returns (good, dead_letter).

    Same warn-and-continue contract as :func:`read_jsonl`, via
    ``from_csv`` over a text scan: malformed lines (wrong arity, type
    casts that fail) land in the dead-letter frame with their raw text
    instead of failing the 100 TB scan.  Explicit schema = single pass,
    no inference scan; a TSV is ``sep='\\t'`` (the reference's
    quarantine manifest format, fetch_pubmed.py:83-90).

    ``from_csv`` cannot represent "fewer/more columns than schema" as a
    corrupt record when every present field parses, so arity is checked
    structurally: a good row must split into exactly ``len(schema)``
    fields.
    """
    n_fields = len(schema.fields)
    full_schema = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    import re as _re

    lines = spark.read.text(path)
    header_line = sep.join(f.name for f in schema.fields)
    lines = lines.filter(F.col("value") != header_line)
    parsed = lines.select(
        F.col("value"),
        F.from_csv(
            F.col("value"),
            ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in full_schema),
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt_record",
                "sep": sep,
            },
        ).alias("__r"),
        F.size(F.split(F.col("value"), _re.escape(sep), -1)).alias("__arity"),
    )
    ok = F.col("__r._corrupt_record").isNull() & (F.col("__arity") == n_fields)
    good = parsed.filter(ok).select(
        *[F.col(f"__r.{f.name}").alias(f.name) for f in schema.fields]
    )
    dead = parsed.filter(~ok).select(F.col("value").alias("_corrupt_record"))
    return good, dead
