"""Streaming file-source maintenance of two derived tables: the reference's
cron-plus-directory incrementality as real Structured Streaming.

The reference schedules a daily Prefect flow and tracks progress by
probing directory existence (reference: deployments/nas_daily.py:19-32,
pipelines/tasks/fetch_clean.py:35-53 "first missing month").  Documents
enter the corpus sink only through ``pipelines.ingest_tick``; the streams
here keep two tables derived from new landing files up to date:

- ``readStream`` over a Parquet landing directory with an explicit schema
  (new files ARE the increment; no directory probing),
- ``Trigger.AvailableNow`` — drain everything currently available, then
  stop: exactly the cron-batch semantics, but offsets live in the
  checkpoint, so a crashed run resumes mid-listing,
- ``foreachBatch`` sinks, which Spark may replay after a crash.
  ``stream_index_ingest`` appends IVF postings with no batch-id check, so
  a replayed batch lands its postings twice (at-least-once);
  ``stream_vocab_ingest`` skips replays by batch id.

State scales because the only streaming state is the file-listing
offset log; the heavy lifting happens in the batch engine per
micro-batch (Catalyst-optimized, same plans as the batch twins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
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
    per-batch cost with checkpointed file offsets.

    The FIRST batch bootstraps the index (trains the frozen centroid
    table from itself); every later batch appends.  Returns the number
    of micro-batches run; a re-run with no new files is a zero-batch
    no-op, and a crashed run resumes mid-listing from the checkpoint.
    The append has no batch-id check: a batch that Spark replays after a
    crash between the append and the offset commit appends its postings
    again (at-least-once).
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
