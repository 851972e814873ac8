"""Streaming operator tests: file source + Trigger.AvailableNow, verified
against the batch twins (same data → same aggregates)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from knowledge_model_spark.streaming import (
    sessionized_stream,
    streaming_dedup,
    tumbling_counts,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


def _read_stream(spark, path):
    # Mirror session.load_tables: nanos-era testdata reads ts as bigint
    # (convert with exact int64 division), naive-us-era testdata reads it
    # as classic LTZ with NTZ inference off and the session pinned to UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch_df = spark.read.parquet(path)
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    if dict(batch_df.dtypes).get("ts") == "bigint":
        to_ts = F.timestamp_micros(F.expr("ts div 1000"))  # exact int64 division
        return batch_df.withColumn("ts", to_ts), stream.withColumn("ts", to_ts)
    return batch_df, stream


def test_tumbling_counts_match_batch(spark, event_stream_dir, tmp_path):
    batch, stream = _read_stream(spark, event_stream_dir)
    agg = tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_t"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    expected = {
        (r["w"]["start"], r["event_type"]): r["n"]
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected and len(got) > 0


def test_session_window_stream(spark, event_stream_dir, tmp_path):
    _, stream = _read_stream(spark, event_stream_dir)
    sess = sessionized_stream(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


def test_streaming_dedup(spark, event_stream_dir, tmp_path):
    _, stream = _read_stream(spark, event_stream_dir)
    # Duplicate every event by unioning the stream with itself via a
    # doubled user_id key — dedup on event_id must keep one copy.
    deduped = streaming_dedup(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_d"))
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) AS n FROM deduped").first()["n"]
    n_src = spark.read.parquet(event_stream_dir).count()
    assert n == n_src


def test_stateful_capped_sessions(spark, event_stream_dir, tmp_path):
    from knowledge_model_spark.streaming import stateful_capped_sessions

    batch, stream = _read_stream(spark, event_stream_dir)
    sess = stateful_capped_sessions(stream, gap_s=1800, max_events=2)
    q = (
        sess.writeStream.format("memory")
        .queryName("capped")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_c"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM capped").collect()
    assert len(rows) > 0
    n_total = batch.count()
    emitted = sum(r["n_events"] for r in rows)
    # Closed sessions never exceed the cap, never invert time, and the
    # emitted events are a subset of the stream (open sessions may stay
    # in state when the watermark hasn't passed them).
    for r in rows:
        assert 1 <= r["n_events"] <= 2
        assert r["session_end_us"] >= r["session_start_us"]
        assert r["closed_reason"] in ("gap", "cap", "timeout")
    assert 0 < emitted <= n_total
    # With a 2-event cap most sessions close by cap — the custom
    # condition session_window cannot express.
    assert any(r["closed_reason"] == "cap" for r in rows)


def test_stream_stream_interval_join_matches_batch(spark, event_stream_dir, tmp_path):
    """Watermarked stream-stream interval join (clicks ⋈ purchases within
    30 min per user) produces exactly the batch join's rows."""
    from knowledge_model_spark.streaming import stream_stream_interval_join

    batch, stream = _read_stream(spark, event_stream_dir)

    def split(df):
        l = df.filter(F.col("event_type") == "click").select("user_id", "ts")
        r = (
            df.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("r_user_id"), F.col("ts").alias("r_ts"))
        )
        return l, r

    ls, rs = split(stream)
    joined = stream_stream_interval_join(ls, rs, interval="30 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssj").count()

    lb, rb = split(batch)
    want = lb.join(
        rb,
        (lb["user_id"] == rb["r_user_id"])
        & (rb["r_ts"] >= lb["ts"])
        & (rb["r_ts"] <= lb["ts"] + F.expr("INTERVAL 30 minutes")),
    ).count()
    assert got == want and want > 0


def test_stream_static_enrich_matches_batch(spark, event_stream_dir, tmp_path):
    from knowledge_model_spark.streaming import windows as W

    batch, stream = _read_stream(spark, event_stream_dir)
    dim = spark.createDataFrame(
        [(i, f"tier{i % 3}") for i in range(200)], ["user_id", "tier"]
    )
    agg_stream = (
        W.stream_static_enrich(stream, dim, "user_id")
        .groupBy("tier")
        .count()
    )
    q = (
        agg_stream.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["tier"]: r["count"] for r in spark.sql("select * from enriched").collect()
    }
    want = {
        r["tier"]: r["count"]
        for r in W.stream_static_enrich(batch, dim, "user_id")
        .groupBy("tier")
        .count()
        .collect()
    }
    assert got == want and sum(got.values()) > 0


def test_transform_with_state_running_totals(spark, event_stream_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 arbitrary-state API): the
    final per-key running totals must equal the batch groupBy — state
    carries exact cumulative aggregates across micro-batches."""
    # transformWithState's Python worker protocol needs protobuf, which
    # is not in this container — the operator is real, the test
    # self-skips here (same class of declared seam as the multimodal
    # codecs); the applyInPandasWithState sessionizer above fully
    # exercises the stateful path that CAN run offline.
    pytest.importorskip("google.protobuf")
    from knowledge_model_spark.streaming import stateful_running_totals_tws

    # transformWithState requires the RocksDB state store provider
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    batch, stream = _read_stream(spark, event_stream_dir)
    out = stateful_running_totals_tws(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tws_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM (SELECT *, row_number() OVER "
        "(PARTITION BY user_id ORDER BY n_events DESC) rn FROM tws_totals) "
        "WHERE rn = 1"
    ).collect()
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in rows}
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_windowed_distinct_users_stream_matches_batch(
    spark, event_stream_dir, tmp_path
):
    """HLL windowed distinct over the stream == the same expression in
    batch (algebraic merge across micro-batches must not change the
    sketch result), and == exact distinct at this sub-sparse scale."""
    from knowledge_model_spark.streaming.windows import windowed_distinct_users

    batch_df, src = _read_stream(spark, event_stream_dir)
    out = windowed_distinct_users(src)
    q = (
        out.writeStream.format("memory")
        .queryName("wdu")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_wdu"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["n_users"])
        for r in spark.sql("select * from wdu").collect()
    }
    exp = {
        (r["window_start"], r["n_users"])
        for r in windowed_distinct_users(batch_df).collect()
    }
    assert got == exp and len(got) > 0
    exact = {
        (r["w"], r["n"])
        for r in batch_df.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count_distinct("user_id").alias("n"))
        .select(F.col("win.start").alias("w"), "n")
        .collect()
    }
    assert got == exact  # sub-sparse regime: HLL is exact here


def test_ohlc_stream_matches_batch_twin(spark, event_stream_dir, tmp_path):
    from knowledge_model_spark.operators.relational import ohlc_bars
    from knowledge_model_spark.streaming.windows import ohlc_stream

    batch, stream = _read_stream(spark, event_stream_dir)
    q = (
        ohlc_stream(stream)
        .writeStream.format("memory")
        .queryName("ohlc")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in spark.sql("SELECT * FROM ohlc").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in ohlc_bars(
            batch, "ts", "value", ["event_type"], window="1 hour", tiebreak_col="event_id"
        ).collect()
    }
    assert got == want


def test_stream_stream_left_outer_join_watermark_eviction(
    spark, event_stream_dir, tmp_path
):
    """Left-outer stream-stream join: matched rows equal the batch inner
    join; null-emitted rows are exactly the unmatched left rows whose
    candidate window the final watermark has passed (ts + interval <
    max event time, with watermark delay 0) — the state-eviction
    contract that keeps outer-join state bounded on an unbounded
    stream."""
    from knowledge_model_spark.streaming import stream_stream_interval_join

    batch, stream = _read_stream(spark, event_stream_dir)

    def split(df):
        l = df.filter(F.col("event_type") == "click").select("user_id", "ts")
        r = (
            df.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("r_user_id"), F.col("ts").alias("r_ts"))
        )
        return l, r

    ls, rs = split(stream)
    joined = stream_stream_interval_join(
        ls, rs, interval="30 minutes", watermark="0 seconds", how="left_outer"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssloj")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ssloj"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ssloj")
    got_matched = got.filter(F.col("r_user_id").isNotNull()).count()
    got_null = got.filter(F.col("r_user_id").isNull()).count()

    lb, rb = split(batch)
    cond = (
        (lb["user_id"] == rb["r_user_id"])
        & (rb["r_ts"] >= lb["ts"])
        & (rb["r_ts"] <= lb["ts"] + F.expr("INTERVAL 30 minutes"))
    )
    want_matched = lb.join(rb, cond).count()
    # The operator watermark is the MIN across the two inputs' max event
    # times (default multipleWatermarkPolicy), tracked at millisecond
    # precision — the batch-side eviction predicate must mirror both.
    max_l = lb.agg(F.timestamp_millis(F.unix_millis(F.max("ts")))).collect()[0][0]
    max_r = rb.agg(F.timestamp_millis(F.unix_millis(F.max("r_ts")))).collect()[0][0]
    max_ts = min(max_l, max_r)
    want_null = (
        lb.join(rb, cond, "left")
        .filter(F.col("r_user_id").isNull())
        .filter(F.col("ts") + F.expr("INTERVAL 30 minutes") < F.lit(max_ts))
        .count()
    )
    assert got_matched == want_matched and want_matched > 0
    assert got_null == want_null and want_null > 0


def test_dynamic_gap_sessionize_matches_native_session_window(
    spark, event_stream_dir, tmp_path
):
    """The batch interval-merge formulation (events_sessionize_dynamic_gap)
    reproduces Spark's native session_window with a per-event gapDuration
    — verified in batch AND as an AvailableNow stream."""
    from knowledge_model_spark.plans import load_registry

    batch, stream = _read_stream(spark, event_stream_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("15 minutes")
    )

    def native(df):
        return (
            df.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                "user_id",
                F.unix_timestamp("sw.start").alias("session_start_s"),
                "n_events",
                "total_value",
            )
        )

    want = {
        (r.user_id, r.session_start_s): (r.n_events, r.total_value)
        for r in native(batch).collect()
    }

    mine = {
        (r.user_id, r.session_start_s): (r.n_events, r.total_value)
        for r in load_registry()["events_sessionize_dynamic_gap"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert mine == want

    q = (
        native(stream.withWatermark("ts", "2 hours"))
        .writeStream.format("memory")
        .queryName("dynsess")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dynsess"))
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        (r.user_id, r.session_start_s): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM dynsess").collect()
    }
    # append mode only emits sessions closed by the final watermark; all
    # emitted sessions must match the batch answer exactly
    assert len(got_stream) > 0
    for k, v in got_stream.items():
        assert want[k] == v


def test_stream_index_ingest_bootstrap_append_and_resume(spark, tables, tmp_path):
    """Two landing files drained one-per-batch: batch 1 bootstraps the
    index (trains centroids from itself), batch 2 appends against the
    FROZEN centroids; the final postings equal the one-shot assignment
    of the full corpus against batch-1 centroids, and a re-run with no
    new files is a zero-batch no-op."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.functions.vectors import l2_normalize
    from knowledge_model_spark.operators.similarity import _ivf_assign
    from knowledge_model_spark.streaming.ingest import stream_index_ingest

    emb = tables["embeddings"].select("vec_id", "embedding")
    landing = tmp_path / "landing"
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    a.coalesce(1).write.parquet(str(landing / "f0"))
    b.coalesce(1).write.parquet(str(landing / "f1"))

    idx = str(tmp_path / "ivf")
    ckpt = str(tmp_path / "ckpt")
    n = stream_index_ingest(
        spark,
        str(landing) + "/*/",
        idx,
        ckpt,
        n_centroids=8,
        n_assign=2,
        max_files_per_trigger=1,
    )
    assert n == 2

    cents = spark.read.parquet(f"{idx}/centroids")
    # centroids trained from ONE of the two halves (whichever file the
    # stream listed first)
    cent_ids = {r["cent_id"] for r in cents.collect()}
    half_a = {r["vec_id"] for r in a.collect()}
    half_b = {r["vec_id"] for r in b.collect()}
    assert cent_ids <= half_a or cent_ids <= half_b

    full = emb.select(
        F.col("vec_id").alias("id"), l2_normalize(F.col("embedding")).alias("vec")
    )
    want = {(r["id"], r["cent_id"]) for r in _ivf_assign(full, cents, 2).collect()}
    got = {
        (r["id"], r["cent_id"])
        for r in spark.read.parquet(f"{idx}/postings").collect()
    }
    assert got == want

    # resume with no new files: no-op
    n2 = stream_index_ingest(
        spark, str(landing) + "/*/", idx, ckpt, n_centroids=8, n_assign=2
    )
    assert n2 == 0
    assert spark.read.parquet(f"{idx}/postings").count() == len(want)


def test_stream_vocab_ingest_matches_batch_rebuild(spark, tmp_path):
    from knowledge_model_spark.operators.ngram_lm import build_vocab
    from knowledge_model_spark.streaming.ingest import stream_vocab_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    vocab_path = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")

    m1 = spark.createDataFrame(
        [(i, "alpha beta beta gamma") for i in range(4)], "doc_id long, text string"
    )
    m1.write.parquet(str(landing / "m1"))
    n1 = stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    assert n1 >= 1

    m2 = spark.createDataFrame(
        [(10 + i, "beta gamma gamma delta rare") for i in range(3)],
        "doc_id long, text string",
    )
    m2.write.parquet(str(landing / "m2"))
    n2 = stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    assert n2 >= 1

    # durable table (uncut) equals a full-history rebuild
    stored = {
        r["term"]: (r["c"], r["df_docs"])
        for r in spark.read.parquet(vocab_path).collect()
    }
    full = {
        r["term"]: (r["c"], r["df_docs"])
        for r in build_vocab(
            m1.unionByName(m2), "doc_id", "text", min_count=1
        ).collect()
    }
    assert stored == full

    # re-run with no new files: zero batches, table untouched
    assert stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt) == 0


def test_stream_vocab_crash_window_leaves_readable_copy(spark, tmp_path):
    """Simulate the worst crash window (live path retired to __old, new
    table not yet renamed in): the next run must recover the counts
    from __old instead of silently resetting to empty."""
    import os

    from knowledge_model_spark.streaming.ingest import stream_vocab_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    vocab_path = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")
    m1 = spark.createDataFrame(
        [(1, "alpha beta beta")], "doc_id long, text string"
    )
    m1.write.parquet(str(landing / "m1"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    # crash simulation: live copy retired, nothing renamed in
    os.replace(vocab_path, vocab_path + "__old")
    m2 = spark.createDataFrame(
        [(2, "beta gamma")], "doc_id long, text string"
    )
    m2.write.parquet(str(landing / "m2"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    got = {r["term"]: r["c"] for r in spark.read.parquet(vocab_path).collect()}
    # month-1 counts survived via the __old fallback
    assert got == {"alpha": 1, "beta": 3, "gamma": 1}
    assert not os.path.exists(vocab_path + "__old")


def test_stream_vocab_replayed_batch_not_double_counted(spark, tmp_path):
    """foreachBatch is at-least-once: if the process crashes after the
    table swap but before the streaming checkpoint commits, the batch
    replays with the SAME batch_id. The _last_batch_id marker staged
    with the table must make the replay a no-op instead of folding the
    same counts in twice (r3 ADVICE, streaming/ingest.py)."""
    import shutil

    from knowledge_model_spark.operators.ngram_lm import build_vocab
    from knowledge_model_spark.streaming.ingest import stream_vocab_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    vocab_path = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")

    m1 = spark.createDataFrame(
        [(1, "alpha beta beta")], "doc_id long, text string"
    )
    m1.write.parquet(str(landing / "m1"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)

    # save the checkpoint as of batch 0, then apply batch 1
    shutil.copytree(ckpt, str(tmp_path / "ckpt_saved"))
    m2 = spark.createDataFrame(
        [(2, "beta gamma")], "doc_id long, text string"
    )
    m2.write.parquet(str(landing / "m2"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)

    # crash simulation: swap committed, checkpoint commit lost →
    # restore the pre-batch-1 checkpoint and re-run; batch 1 replays
    shutil.rmtree(ckpt)
    shutil.move(str(tmp_path / "ckpt_saved"), ckpt)
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)

    stored = {
        r["term"]: (r["c"], r["df_docs"])
        for r in spark.read.parquet(vocab_path).collect()
    }
    full = {
        r["term"]: (r["c"], r["df_docs"])
        for r in build_vocab(
            m1.unionByName(m2), "doc_id", "text", min_count=1
        ).collect()
    }
    assert stored == full  # beta == 3, not 4: replay was skipped


def test_stream_vocab_crash_between_stage_and_swap(spark, tmp_path):
    """Fault injection: the process dies AFTER staging the new table
    (+ marker) but BEFORE any rename — ``__staging`` sits on disk, the
    live table and checkpoint are both the pre-batch state.  The next
    run must replay the batch, overwrite the stale staging, and land
    the correct merged counts (the staging dir is scratch until the
    swap; only the swap commits)."""
    from knowledge_model_spark.streaming.ingest import stream_vocab_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    vocab_path = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")
    m1 = spark.createDataFrame([(1, "alpha beta beta")], "doc_id long, text string")
    m1.write.parquet(str(landing / "m1"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)

    # crash simulation: a stale staging dir with GARBAGE counts and a
    # poisoned marker — exactly what an interrupted batch-2 would leave
    import os

    staging = vocab_path + "__staging"
    spark.createDataFrame(
        [("poison", 999, 999)], "term string, c long, df_docs long"
    ).write.parquet(staging)
    with open(os.path.join(staging, "_last_batch_id"), "w") as fh:
        fh.write('{"batch_id": 99, "ckpt": "bogus"}')

    m2 = spark.createDataFrame([(2, "beta gamma")], "doc_id long, text string")
    m2.write.parquet(str(landing / "m2"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    got = {r["term"]: r["c"] for r in spark.read.parquet(vocab_path).collect()}
    assert got == {"alpha": 1, "beta": 3, "gamma": 1}  # no poison, no loss
    assert not os.path.exists(staging)


def test_stream_vocab_bare_int_marker_upgrade(spark, tmp_path):
    """Upgrade path: a vocab table written by the pre-identity revision
    carries a BARE-INT ``_last_batch_id`` marker ('0', not JSON-dict).
    json.loads('0') parses fine (an int), so an rec.get() on it would
    raise AttributeError — which an ``except ValueError`` does not
    catch, failing the whole stream on upgrade (r5 ADVICE).  The
    isinstance guard must honor the int as the last-applied batch id:
    new batches merge, the stream does not crash."""
    import os

    from knowledge_model_spark.streaming.ingest import stream_vocab_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    vocab_path = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")
    m1 = spark.createDataFrame([(1, "alpha beta beta")], "doc_id long, text string")
    m1.write.parquet(str(landing / "m1"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)

    # simulate the previous revision's marker format: a bare int
    with open(os.path.join(vocab_path, "_last_batch_id"), "w") as fh:
        fh.write("0")

    m2 = spark.createDataFrame([(2, "beta gamma")], "doc_id long, text string")
    m2.write.parquet(str(landing / "m2"))
    # old code: AttributeError inside foreachBatch → stream fails here
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    got = {r["term"]: r["c"] for r in spark.read.parquet(vocab_path).collect()}
    assert got == {"alpha": 1, "beta": 3, "gamma": 1}

    # and a GARBAGE marker (unparseable as JSON or int) degrades to
    # at-least-once (last = -1) instead of crashing
    with open(os.path.join(vocab_path, "_last_batch_id"), "w") as fh:
        fh.write("not-a-marker")
    m3 = spark.createDataFrame([(3, "delta")], "doc_id long, text string")
    m3.write.parquet(str(landing / "m3"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    got = {r["term"]: r["c"] for r in spark.read.parquet(vocab_path).collect()}
    assert got["delta"] == 1  # new data landed despite the garbage marker


def test_stream_vocab_checkpoint_recreation_never_silently_skips(spark, tmp_path):
    """The idempotency marker keys on the checkpoint's query id: if the
    checkpoint is deleted/recreated while the vocab table (and its
    marker) persists, batch ids restart at 0.  Keying the marker on the
    OLD checkpoint would make every new batch <= stale marker silently
    skip — permanent data loss.  With the identity check the system
    degrades to at-least-once (the old landing files re-merge once,
    detectable duplicates) and GENUINELY NEW data always lands."""
    import shutil

    from knowledge_model_spark.streaming.ingest import stream_vocab_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    vocab_path = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")
    m1 = spark.createDataFrame([(1, "alpha beta beta")], "doc_id long, text string")
    m1.write.parquet(str(landing / "m1"))
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)  # marker now batch 0

    # operator error: checkpoint deleted, table retained
    shutil.rmtree(ckpt)
    m2 = spark.createDataFrame([(2, "gamma delta")], "doc_id long, text string")
    m2.write.parquet(str(landing / "m2"))
    n = stream_vocab_ingest(spark, str(landing) + "/*", vocab_path, ckpt)
    assert n >= 1
    got = {r["term"]: r["c"] for r in spark.read.parquet(vocab_path).collect()}
    # new data MUST be present (the silent-skip bug would drop it: the
    # fresh checkpoint's batch 0 <= stale marker 0)
    assert got["gamma"] == 1 and got["delta"] == 1
    # old files re-merged once — the documented at-least-once degradation
    assert got["alpha"] == 2 and got["beta"] == 4


def test_registered_streaming_sessionize_matches_batch(spark):
    """streaming_sessionize_30m (rows-only in the driver): the
    registered Structured Streaming query's sessions must equal the
    ORACLED batch twin row-for-row in BOTH directions (the full-outer
    gate emits a false row for any omission, invention, or
    mis-aggregation on either side)."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = (
        R["streaming_sessionize_30m"].fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows and all(r["stream_matches_batch"] for r in rows)
    batch_n = R["events_sessionize_30m"].fn(
        spark, "/root/testdata/sf0.001"
    ).count()
    assert len(rows) == batch_n


def test_registered_streaming_tumbling_matches_batch(spark):
    """streaming_tumbling_1h: full-outer row equality against the
    ORACLED batch twin, both directions (see the sessionize gate)."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = (
        R["streaming_tumbling_1h"].fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows and all(r["stream_matches_batch"] for r in rows)
    batch_n = R["events_tumbling_1h"].fn(
        spark, "/root/testdata/sf0.001"
    ).count()
    assert len(rows) == batch_n


def test_registered_streaming_interval_join_matches_batch(spark):
    """streaming_interval_join_left (rows-only in the driver): the LEFT
    OUTER stream-stream interval join's finished sink, censored at the
    watermark floor and aggregated to followup counts, must equal the
    ORACLED batch twin events_click_followup_30m row-for-row in both
    directions — including the zero-followup clicks only an OUTER join
    emits."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = (
        R["streaming_interval_join_left"].fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows and all(r["stream_matches_batch"] for r in rows)
    # outer semantics actually exercised: some clicks have no followup
    assert any(r["n_followup"] == 0 for r in rows)
    assert any(r["n_followup"] > 0 for r in rows)
    batch_n = R["events_click_followup_30m"].fn(
        spark, "/root/testdata/sf0.001"
    ).count()
    assert len(rows) == batch_n


def test_registered_streaming_dedup_matches_batch(spark):
    """streaming_dedup_tumbling_1h: the events stream doubled then
    deduped by dropDuplicatesWithinWatermark must reproduce the
    UN-doubled table's tumbling-1h aggregate exactly — a surviving
    duplicate inflates a count, an over-drop deflates one, and either
    fails the full-outer gate."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = (
        R["streaming_dedup_tumbling_1h"].fn(spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert rows and all(r["stream_matches_batch"] for r in rows)
    batch_n = R["events_tumbling_1h"].fn(
        spark, "/root/testdata/sf0.001"
    ).count()
    assert len(rows) == batch_n


def test_stream_runner_times_out_loudly(spark, monkeypatch):
    """_run_stream_to_memory (r10 ADVICE): a query that cannot drain
    within the deadline must raise TimeoutError (and stop the query),
    never hand back a partial sink; the checkpoint dir is removed on
    both paths."""
    import glob

    import pytest as _pytest

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.query import StreamingQuery

    from knowledge_model_spark.plans.events_queries import (
        _events_stream_source,
        _run_stream_to_memory,
    )

    import shutil

    for leftover in glob.glob("/tmp/strtimeout_ckpt_*"):
        shutil.rmtree(leftover, ignore_errors=True)
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    # pass through to the REAL stop — a record-only stub leaves the
    # query draining, and it recreates the checkpoint dir after cleanup
    orig_stop = StreamingQuery.stop
    stopped = []

    def _stop(self):
        stopped.append(True)
        orig_stop(self)

    monkeypatch.setattr(StreamingQuery, "stop", _stop)
    src = (
        _events_stream_source(spark, "/root/testdata/sf0.001")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    with _pytest.raises(TimeoutError, match="did not drain"):
        _run_stream_to_memory(spark, src, "strtimeout")
    assert stopped == [True]
    assert glob.glob("/tmp/strtimeout_ckpt_*") == []


def test_sessionize_boundary_gap_exactly_30m(spark):
    """r10 ADVICE: a gap of EXACTLY 30 minutes starts a new session in
    the batch query — aligned with session_window's closed-open
    [start, start+gap) interval so the streaming certification agrees
    at equality — while one microsecond less stays in-session."""
    import datetime as dt
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from knowledge_model_spark.plans import load_registry

    with tempfile.TemporaryDirectory() as d:
        # written via pyarrow with NAIVE us timestamps, exactly like
        # the driver testdata — a Spark-written file carries Spark's
        # own schema metadata, which pins TIMESTAMP_NTZ and bypasses
        # the inferTimestampNTZ=false read path load_tables relies on
        t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
        rows = {
            "event_id": [1, 2, 3, 4],
            "user_id": [1, 1, 2, 2],
            "event_type": ["click"] * 4,
            "ts": [
                t0,
                t0 + dt.timedelta(minutes=30),  # == gap
                t0 + dt.timedelta(microseconds=1),
                t0 + dt.timedelta(minutes=30),  # < gap by 1 us
            ],
            "value": [1.0] * 4,
            "props": ["{}"] * 4,
        }
        table = pa.table(
            rows,
            schema=pa.schema(
                [
                    ("event_id", pa.int64()),
                    ("user_id", pa.int64()),
                    ("event_type", pa.string()),
                    ("ts", pa.timestamp("us")),
                    ("value", pa.float64()),
                    ("props", pa.string()),
                ]
            ),
        )
        pq.write_table(table, f"{d}/events.parquet")
        R = load_registry()
        got = {
            (r["user_id"], r["session_id"]): r["n_events"]
            for r in R["events_sessionize_30m"].fn(spark, d).collect()
        }
        # user 1: exact 1800s gap → two sessions; user 2: 1799.999999s → one
        assert got == {(1, 1): 1, (1, 2): 1, (2, 1): 2}
