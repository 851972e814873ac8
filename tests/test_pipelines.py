"""Continuous ingest flow: month gap detection, dedup, pruned processing,
recall gate before an all-or-nothing partition commit, replay after
faults (reference: continuous.py:8-38)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from knowledge_model_spark import pipelines
from knowledge_model_spark.pipelines import (
    RecallGateError,
    continuous_update,
    first_missing_month,
)


@pytest.fixture(scope="module")
def monthly_source(spark, tables):
    # spread the documents table over three synthetic months
    return (
        tables["documents"]
        .withColumn("year", F.lit(2024))
        .withColumn("month", (F.col("doc_id") % 3 + 1).cast("int"))
    )


@pytest.fixture(scope="module")
def self_queries(monthly_source):
    # queries built FROM month-1 documents retrieve their own doc
    docs = monthly_source.filter((F.col("month") == 1) & (F.col("doc_id") < 40))
    return docs.select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.substring("text", 1, 250).alias("query_text"),
        F.col("doc_id").alias("expected_doc_id"),
    )


@pytest.fixture(scope="module")
def bad_queries(spark):
    # impossible golden labels -> recall 0 -> the gate must raise
    return spark.createDataFrame(
        [(str(i), "no such words exist qzx", -999) for i in range(5)],
        ["query_id", "query_text", "expected_doc_id"],
    )


def test_continuous_update_processes_months_in_order(spark, monthly_source, tmp_path):
    sink = str(tmp_path / "clean")
    seen = []
    while True:
        rep = continuous_update(monthly_source, sink)
        if rep is None:
            break
        seen.append((rep.year, rep.month))
        assert rep.n_docs > 0 and rep.n_passages >= rep.n_docs
    assert seen == [(2024, 1), (2024, 2), (2024, 3)]
    # caught up: another tick is a no-op
    assert continuous_update(monthly_source, sink) is None
    assert first_missing_month(monthly_source, sink) is None
    # all three partitions landed, once each
    back = spark.read.parquet(sink)
    assert back.select("month").distinct().count() == 3
    assert back.count() == back.dropDuplicates(["doc_id", "chunk_index"]).count()


def test_continuous_update_is_idempotent_per_partition(spark, monthly_source, tmp_path):
    sink = str(tmp_path / "clean2")
    continuous_update(monthly_source, sink)
    first = spark.read.parquet(sink).count()
    # re-ingesting a committed month (a direct tick call) replaces its
    # partition instead of duplicating it
    pipelines.ingest_tick(monthly_source, 2024, 1, sink)
    assert spark.read.parquet(sink).count() == first


def test_reingested_month_keeps_its_place_in_arrival_order(spark, monthly_source, tmp_path):
    """Re-ingesting month 1 after month 3 keeps one of each near-dup pair
    across them: month 3 doomed doc 8, twin of month 1's doc 12, so the
    re-ingested month 1 must keep 12."""
    sink = str(tmp_path / "reingested")
    while continuous_update(monthly_source, sink) is not None:
        pass
    pipelines.ingest_tick(monthly_source, 2024, 1, sink)
    kept = {r.doc_id for r in spark.read.parquet(sink).select("doc_id").distinct().collect()}
    assert 8 not in kept and 12 in kept


def test_recall_gate_fires(spark, monthly_source, bad_queries, tmp_path):
    sink = str(tmp_path / "clean3")
    with pytest.raises(RecallGateError):
        continuous_update(monthly_source, sink, eval_queries=bad_queries)


def test_recall_gate_passes_on_self_queries(spark, monthly_source, self_queries, tmp_path):
    sink = str(tmp_path / "clean4")
    rep = continuous_update(monthly_source, sink, eval_queries=self_queries)
    assert rep is not None and rep.recall >= 0.8


def test_failed_gate_commits_nothing_and_the_month_is_redone(
    spark, monthly_source, self_queries, bad_queries, tmp_path
):
    sink = str(tmp_path / "gated")
    with pytest.raises(RecallGateError):
        continuous_update(monthly_source, sink, eval_queries=bad_queries)
    assert not os.path.exists(os.path.join(sink, "year=2024", "month=1"))
    assert sorted(os.listdir(sink)) == ["_sketches"]  # staging deleted
    rep = continuous_update(monthly_source, sink, eval_queries=self_queries)
    assert (rep.year, rep.month) == (2024, 1) and rep.recall >= 0.8


def test_first_missing_month_on_sink_without_partitions(spark, monthly_source, tmp_path):
    # what a tick that failed its first gate leaves: only the sketch store
    sink = str(tmp_path / "bare")
    spark.range(3).write.parquet(os.path.join(sink, "_sketches"))
    assert first_missing_month(monthly_source, sink) == (2024, 1)


def test_first_missing_month_lists_directories_never_data(spark, monthly_source, tmp_path):
    # month 1 is committed but its one file is not Parquet: any read fails
    month1 = tmp_path / "listed" / "year=2024" / "month=1"
    month1.mkdir(parents=True)
    (month1 / "part-0.parquet").write_bytes(b"not a parquet file")
    assert first_missing_month(monthly_source, str(tmp_path / "listed")) == (2024, 2)


def test_month_with_no_survivors_commits_empty_and_is_done(spark, tables, tmp_path):
    # month 2 re-lands month 1's texts under new ids: the dedup dooms all
    month1 = (
        tables["documents"].filter(F.col("doc_id") < 30)
        .withColumn("year", F.lit(2024)).withColumn("month", F.lit(1))
    )
    month2 = month1.withColumn("doc_id", F.col("doc_id") + 1000).withColumn("month", F.lit(2))
    source, sink = month1.unionByName(month2), str(tmp_path / "relanded")
    assert continuous_update(source, sink).month == 1
    rep = continuous_update(source, sink)
    assert (rep.month, rep.n_docs, rep.n_passages) == (2, 0, 0)
    assert continuous_update(source, sink) is None
    assert spark.read.parquet(sink).select("month").distinct().collect() == [(1,)]


def _ingest_all(spark, source, sink, queries):
    reports = []
    while (rep := continuous_update(source, sink, eval_queries=queries)) is not None:
        reports.append(rep)
    return reports


def _fail_once(monkeypatch, name):
    real, calls = getattr(pipelines, name), []

    def fail_first(*args, **kwargs):
        if not calls:
            calls.append(name)
            raise RuntimeError(f"injected fault in {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(pipelines, name, fail_first)


def test_tick_replayed_after_faults_equals_clean_run(
    spark, monthly_source, self_queries, tmp_path, monkeypatch
):
    """A fault after the dedup has written to the sketch store, then one
    inside the gate: the retried ticks doom the same docs and leave the
    same sink, vectors included, and the same sketch store as a clean run
    on a fresh sink."""
    from knowledge_model_spark.operators import dedup

    real_pairs, doomed = dedup.minhash_incremental_pairs, []

    def recording(*args, **kwargs):
        pairs = real_pairs(*args, **kwargs)
        doomed.append({r.id_b for r in pairs.select("id_b").collect()})
        return pairs

    monkeypatch.setattr(dedup, "minhash_incremental_pairs", recording)
    clean = str(tmp_path / "clean")
    clean_reports = _ingest_all(spark, monthly_source, clean, self_queries)
    clean_doomed, doomed[:] = list(doomed), []

    replayed = str(tmp_path / "replayed")
    for name in ("process_month", "recall_at_k"):
        _fail_once(monkeypatch, name)
        with pytest.raises(RuntimeError, match="injected"):
            continuous_update(monthly_source, replayed, eval_queries=self_queries)
        assert first_missing_month(monthly_source, replayed) == (2024, 1)
    assert _ingest_all(spark, monthly_source, replayed, self_queries) == clean_reports

    assert len(clean_doomed) == 3 and clean_doomed[0]
    assert doomed == clean_doomed[:1] * 2 + clean_doomed
    rows = [sorted(spark.read.parquet(p).collect()) for p in (clean, replayed)]
    assert rows[0] == rows[1] and len(rows[0]) > 0
    stores = [
        sorted(
            spark.read.parquet(os.path.join(p, "_sketches")).select("id", "sig", "bkt").collect()
        )
        for p in (clean, replayed)
    ]
    assert stores[0] == stores[1] and len(stores[0]) > 0


def test_audited_metrics_single_scan(spark, tables):
    """Observation metrics match independently-computed values and come
    from the same job as the action (no second scan needed)."""
    import pyspark.sql.functions as F

    from knowledge_model_spark.pipelines import audited

    docs = tables["documents"].select("doc_id", "text", "lang")
    staged, obs_in = audited(
        docs,
        "ingest",
        rows=F.count(F.lit(1)),
        null_texts=F.count_if(F.col("text").isNull()),
        langs=F.approx_count_distinct("lang"),
    )
    kept = staged.filter(F.length("text") >= 50)
    kept, obs_out = audited(kept, "after_length_gate", rows=F.count(F.lit(1)))
    n_out = kept.count()  # ONE action materializes both observations

    m_in, m_out = obs_in.get, obs_out.get
    assert m_in["rows"] == docs.count()
    assert m_in["null_texts"] == 0
    assert m_out["rows"] == n_out
    assert 0 < n_out <= m_in["rows"]


# ------------------------------------------------------- OHLC bars


def test_ohlc_bars_tiebreak_deterministic(spark):
    import datetime as dt

    from knowledge_model_spark.operators.relational import ohlc_bars

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # two events at the IDENTICAL timestamp: event_id must break the tie
        (1, base, "a", 5.0),
        (2, base, "a", 9.0),
        (3, base + dt.timedelta(minutes=30), "a", 7.0),
        (4, base + dt.timedelta(minutes=59), "a", 2.0),
        (5, base + dt.timedelta(minutes=59), "a", 11.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"])
    for n_parts in (1, 7):
        out = ohlc_bars(
            df.repartition(n_parts), "ts", "value", ["event_type"],
            window="1 hour", tiebreak_col="event_id",
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.open, r.high, r.low, r.close, r.n) == (5.0, 11.0, 2.0, 11.0, 5)


def test_key_skew_audit_flags_hot_key(spark):
    from knowledge_model_spark.operators.relational import key_skew_audit

    rows = [(0, i) for i in range(900)] + [(k, 0) for k in range(1, 101)]
    df = spark.createDataFrame(rows, ["key", "payload"])
    r = key_skew_audit(df, "key", "fixture").collect()[0]
    assert r.keyset == "fixture"
    assert r.n_keys == 101 and r.n_rows == 1000 and r.max_cnt == 900
    assert r.top_share_ppm == 900000
    assert r.p50_cnt == 1.0


def test_expectations_route_and_annotate(spark):
    """expect(): failing rows carry EVERY violated rule name; keep-mode
    annotates without dropping; the split is exhaustive and disjoint."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.pipelines import expect

    df = spark.createDataFrame(
        [
            (1, "good text here", "en"),
            (2, "", "en"),            # empty text
            (3, "fine", None),        # null lang
            (4, "", None),            # both violations
            (5, None, "en"),          # NULL text: rule evaluates NULL -> violation
        ],
        ["doc_id", "text", "lang"],
    )
    rules = {
        "nonempty_text": F.length("text") > 0,
        "lang_present": F.col("lang").isNotNull(),
    }
    good, bad = expect(df, rules)
    assert {r.doc_id for r in good.collect()} == {1}
    viol = {r.doc_id: sorted(r.violated_rules) for r in bad.collect()}
    assert viol == {
        2: ["nonempty_text"],
        3: ["lang_present"],
        4: ["lang_present", "nonempty_text"],
        5: ["nonempty_text"],
    }
    assert "violated_rules" not in good.columns

    tagged, bad2 = expect(df, rules, on_violation="keep")
    assert tagged.count() == 5 and bad2.count() == 4
    assert good.count() + bad.count() == df.count()
