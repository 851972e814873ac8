"""Streaming file-source ingest: the reference's cron-plus-directory
incrementality as real Structured Streaming.

The reference schedules a daily Prefect flow and tracks progress by
probing directory existence (reference: deployments/nas_daily.py:19-32,
pipelines/tasks/fetch_clean.py:35-53 "first missing month", and
skip-if-exists idempotency pipeline.py:78-81).  The Spark-native form is
a file-source stream:

- ``readStream`` over a JSONL landing directory with an explicit schema
  (new files ARE the increment; no directory probing),
- ``Trigger.AvailableNow`` — drain everything currently available, then
  stop: exactly the cron-batch semantics, but offsets live in the
  checkpoint, so a crashed run resumes mid-listing instead of
  reprocessing the month,
- ``foreachBatch`` sinks running batch pipelines per micro-batch.  Spark
  may replay a batch after a crash, so an appending sink is
  at-least-once; ``stream_vocab_ingest`` skips replays by batch id.

State scales because the only streaming state is the file-listing
offset log; the heavy lifting happens in the batch engine per
micro-batch (Catalyst-optimized, same plans as the batch twins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CORPUS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)


def _drain(stream: DataFrame, sink, checkpoint_dir: str) -> None:
    """Run ``sink(batch_df, batch_id)`` over every micro-batch of ``stream``
    available now, offsets checkpointed at ``checkpoint_dir``, then stop."""
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _append_corpus(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str, keep
) -> int:
    """Append ``keep(batch_df)`` of each JSONL micro-batch from
    ``landing_dir`` (with a ``batch_source_file`` lineage column) to
    ``out_dir``, partitioned by source; returns the micro-batches run."""
    n_batches = 0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        # partition by source → pruning-friendly layout, mirrors the
        # reference's YYYY/MM directory convention (upload_s3.py:125-131)
        keep(batch_df).write.mode("append").partitionBy("source").parquet(out_dir)

    stream = spark.readStream.schema(CORPUS_SCHEMA).json(landing_dir)
    _drain(stream.withColumn("batch_source_file", F.input_file_name()), sink, checkpoint_dir)
    return n_batches


def stream_corpus_ingest(
    spark: SparkSession, landing_dir: str, out_dir: str, checkpoint_dir: str
) -> int:
    """Drain all new JSONL files from ``landing_dir`` into partitioned
    Parquet at ``out_dir``; returns the number of micro-batches run.

    Re-running after new files land processes ONLY the new files
    (checkpointed offsets); re-running with no new files is a zero-batch
    no-op.
    """
    return _append_corpus(spark, landing_dir, out_dir, checkpoint_dir, lambda df: df)


def stream_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    sketch_store: str,
    threshold: float = 0.8,
) -> int:
    """Streaming ingest with near-dup suppression against ALL history:
    each micro-batch keeps only its
    :func:`~knowledge_model_spark.operators.dedup.minhash_incremental_survivors`
    against the durable sketch store (the first-seen-wins step of
    ``pipelines.ingest_tick``).  Returns the number of micro-batches run.

    The composed form of the reference's monthly ingest + skip-if-exists
    idempotency (pipeline.py:78-81) — except dedup here is NEAR-dup over
    the whole accumulated corpus.  Candidate work is ∝ corpus size: every
    batch re-shuffles the whole store into the bucket groupBy (pruning it
    to the batch's buckets is ROADMAP direction 4).
    """
    from knowledge_model_spark.operators.dedup import minhash_incremental_survivors

    def keep(batch_df: DataFrame) -> DataFrame:
        return minhash_incremental_survivors(
            batch_df, "doc_id", "text", sketch_store, threshold=threshold
        )

    return _append_corpus(spark, landing_dir, out_dir, checkpoint_dir, keep)


EMBEDDING_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def stream_index_ingest(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    n_centroids: int = 16,
    n_assign: int = 3,
    max_files_per_trigger: int | None = None,
) -> int:
    """Streaming maintenance of the durable IVF index
    (operators/similarity.ivf_index_*): each micro-batch of new
    embedding rows is assigned against the stored centroids and
    appended to the postings table — the streaming form of the
    reference's monthly FAISS rebuild (pipeline.py:215-226), at
    per-batch cost with checkpointed exactly-once file offsets.

    The FIRST batch bootstraps the index (trains the frozen centroid
    table from itself); every later batch appends.  Returns the number
    of micro-batches run; a re-run with no new files is a zero-batch
    no-op, and a crashed run resumes mid-listing from the checkpoint.
    """
    from knowledge_model_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_build,
    )

    n_batches = 0

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        if batch_df.isEmpty():
            return
        n_batches += 1
        try:
            spark.read.parquet(f"{index_path}/centroids").limit(1).collect()
            have_index = True
        except Exception:
            have_index = False
        if have_index:
            ivf_index_append(batch_df, index_path, n_assign=n_assign)
        else:
            ivf_index_build(
                batch_df, index_path, n_centroids=n_centroids, n_assign=n_assign
            )

    reader = spark.readStream.schema(EMBEDDING_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    _drain(reader.parquet(landing_dir), sink, checkpoint_dir)
    return n_batches


DOC_SCHEMA = "doc_id long, text string"


def stream_vocab_ingest(
    spark: SparkSession,
    landing_dir: str,
    vocab_path: str,
    checkpoint_dir: str,
) -> int:
    """Streaming maintenance of the vocabulary count table
    (operators/ngram_lm.merge_vocab_counts): each micro-batch of new
    documents folds its token/doc-frequency counts into the standing
    vocab — per-batch cost ∝ batch + |V|; the corpus history is never
    re-read.  foreachBatch is at-least-once (a crash between the table
    swap and the streaming-checkpoint commit replays the batch), so the
    sink is made idempotent per batch_id: the last-applied batch_id is
    staged WITH the table (a ``_last_batch_id`` marker inside the
    table directory, written before the atomic swap) and replayed
    batches with batch_id <= last applied are skipped instead of
    double-counted.

    The durable table stores UNCUT counts (min_count=1) so cumulative
    sub-threshold terms can clear the cutoff across batches; readers
    apply their cutoff on load (mirrors the batch-side contract proven
    in tests/test_ngram_lm.py).  Returns micro-batches run.
    """
    from knowledge_model_spark.operators.ngram_lm import merge_vocab_counts

    n_batches = 0

    _MARKER = "_last_batch_id"  # Spark ignores _-prefixed files in dirs

    def _checkpoint_identity() -> str:
        # batch_id is only meaningful RELATIVE to a checkpoint instance:
        # if the checkpoint is deleted/recreated while the vocab table
        # (and its marker) persists, batch ids restart at 0 and a bare
        # "<= last_applied" test would silently skip genuinely new
        # batches.  Spark persists the query id in <checkpoint>/metadata
        # — stable across restarts of the SAME checkpoint, fresh when it
        # is recreated — so the marker stores it and is ignored on
        # mismatch (degrades to at-least-once for one batch, never to
        # silent data loss).
        import json
        import os

        meta = os.path.join(checkpoint_dir, "metadata")
        try:
            with open(meta, encoding="utf-8") as fh:
                return str(json.load(fh)["id"])
        except Exception:
            return checkpoint_dir

    def _read_current(sparkSession):
        # current table + its last-applied batch_id marker, falling back
        # to the __old copy a crashed swap may have left behind (see
        # swap protocol below); marker and data always come from the
        # SAME copy so they cannot disagree
        import json
        import os

        for path in (vocab_path, vocab_path + "__old"):
            if os.path.exists(path):
                try:
                    df = sparkSession.read.parquet(path)
                    df.limit(1).collect()
                except Exception:
                    continue
                last = -1
                marker = os.path.join(path, _MARKER)
                if os.path.exists(marker):
                    with open(marker, encoding="ascii") as fh:
                        raw = fh.read().strip()
                    try:
                        rec = json.loads(raw)
                        # pre-identity marker format (bare int) parses
                        # as a valid JSON int — isinstance-guard so the
                        # fallback actually runs instead of crashing on
                        # int.get()
                        if isinstance(rec, dict):
                            if rec.get("ckpt") == _checkpoint_identity():
                                last = int(rec["batch_id"])
                        else:
                            last = int(rec)
                    except (ValueError, TypeError, KeyError):
                        last = -1
                return df, last
        empty = sparkSession.createDataFrame(
            [], "term string, c long, df_docs long"
        )
        return empty, -1

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        if batch_df.isEmpty():
            return
        old, last_applied = _read_current(batch_df.sparkSession)
        if batch_id <= last_applied:
            # at-least-once replay of an already-merged batch (crash
            # landed between swap and checkpoint commit): skip, the
            # counts are already in the table
            return
        n_batches += 1
        merged = merge_vocab_counts(
            old, batch_df, "doc_id", "text", min_count=1
        ).select("term", "c", "df_docs")
        # stage new table (+ batch_id marker), then swap it in: every
        # crash window leaves a COMPLETE copy readable, the live path or
        # the __old one _read_current falls back to
        staging = vocab_path + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        import json
        import os

        from knowledge_model_spark.pipelines import swap_dir

        with open(
            os.path.join(staging, _MARKER), "w", encoding="ascii"
        ) as fh:
            fh.write(
                json.dumps(
                    {"batch_id": batch_id, "ckpt": _checkpoint_identity()}
                )
            )
        swap_dir(staging, vocab_path, vocab_path + "__old")

    _drain(spark.readStream.schema(DOC_SCHEMA).parquet(landing_dir), sink, checkpoint_dir)
    return n_batches
