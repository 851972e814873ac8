"""Phase-0 spine: scan → clean → split → embed → top-k retrieval.

Exercises projection, filter, explode, join, window top-k, limit — the
backbone every other operator reuses (SURVEY.md §7 Phase 0).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_model_spark.functions.chunking import split_passages
from knowledge_model_spark.functions.text_cleaning import (
    clean_text,
    nfkc_ascii_fold,
    normalize_pmcid,
)
from knowledge_model_spark.operators.retrieval import (
    build_passage_index,
    pack_context,
    recall_at_k,
    retrieve,
)


def test_clean_text_battery(spark):
    df = spark.createDataFrame(
        [
            (
                "Results [1,2] show (Smith et al., 2020) that <b>X</b> "
                "works!! (fig 3)  References\n[3] ignored stuff",
            )
        ],
        ["text"],
    )
    out = df.select(clean_text(F.col("text")).alias("c")).first()["c"]
    assert "[1,2]" not in out
    assert "Smith" not in out
    assert "<b>" not in out
    assert "ignored stuff" not in out
    assert "!!" not in out
    assert "Results" in out and "works!" in out


def test_clean_text_cuts_methods_section(spark):
    # The reference's UNWANTED_SECTIONS_RE includes `methods?`
    # (text_cleaner.py:52-55) — the battery must cut there too.
    df = spark.createDataFrame(
        [("Intro findings here. Methods\nWe centrifuged things. More words.",)],
        ["text"],
    )
    out = df.select(clean_text(F.col("text")).alias("c")).first()["c"]
    assert "findings" in out
    assert "centrifuged" not in out


def test_normalize_pmcid(spark):
    """``pmc-id:`` prefix and ``;`` suffix stripped, ``PMC`` ensured; an
    empty id is null."""
    cases = [
        ("pmc-id: PMC123;", "PMC123"),
        ("123", "PMC123"),
        (" pmc456 ", "PMC456"),
        ("", None),
        ("pmc-id:", None),
        (None, None),
    ]
    df = spark.createDataFrame([(i, x) for i, (x, _) in enumerate(cases)], "i int, x string")
    got = df.select("i", normalize_pmcid(F.col("x")).alias("y")).orderBy("i").collect()
    assert [r["y"] for r in got] == [want for _, want in cases]


def test_nfkc_ascii_fold(spark):
    """Compatibility decomposition, marks dropped, non-ASCII dropped."""
    cases = [("\ufb01", "fi"), ("caf\u00e9", "cafe"), ("\u65e5\u672c", ""), (None, None)]
    df = spark.createDataFrame([(i, x) for i, (x, _) in enumerate(cases)], "i int, x string")
    got = df.select("i", nfkc_ascii_fold(F.col("x")).alias("y")).orderBy("i").collect()
    assert [r["y"] for r in got] == [want for _, want in cases]


def test_split_passages_geometry(spark):
    text = "a" * 700
    df = spark.createDataFrame([(text,)], ["text"])
    arr = df.select(split_passages(F.col("text"), 300, 50).alias("p")).first()["p"]
    # starts at 0, 250, 500 → lengths 300, 300, 200
    assert [len(p) for p in arr] == [300, 300, 200]
    empty = df.select(split_passages(F.lit(""), 300, 50).alias("p")).first()["p"]
    assert empty == []


def test_sentence_chunks_greedy_reset(spark):
    """Greedy reset (reference text_cleaner.py:147-160), NOT running-sum
    bucketing: with budget 5 and sentence word counts [3, 3, 4], the
    second sentence flushes chunk 1 (3+3>5) and the third flushes chunk 2
    (3+4>5) — a running-sum floor(cum/5) would glue sentences 2+3."""
    from knowledge_model_spark.functions.chunking import explode_sentence_chunks

    df = spark.createDataFrame(
        [(1, "one two three. four five six. seven eight nine ten.")], ["doc_id", "text"]
    )
    rows = explode_sentence_chunks(df, "text", ["doc_id"], chunk_size=5).collect()
    chunks = [r["chunk_text"] for r in sorted(rows, key=lambda r: r["chunk_index"])]
    assert chunks == [
        "one two three.",
        "four five six.",
        "seven eight nine ten.",
    ]
    # an over-budget single sentence still becomes one chunk (flush needs
    # a non-empty current chunk)
    big = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    out = explode_sentence_chunks(big, "text", ["doc_id"], chunk_size=3).collect()
    assert len(out) == 1 and out[0]["n_words"] == 8


def test_retrieval_end_to_end(spark, tables):
    docs = tables["documents"].limit(50)
    index = build_passage_index(docs)
    assert {"doc_id", "chunk_index", "chunk_text", "char_start", "char_end", "vector"} <= set(
        index.columns
    )
    # Query with the exact text of a known passage → that doc must rank #1.
    probe = index.filter(F.col("chunk_index") == 0).limit(3).collect()
    queries = spark.createDataFrame(
        [(str(r["doc_id"]), r["chunk_text"]) for r in probe],
        ["query_id", "query_text"],
    )
    hits = retrieve(index, queries, k=5)
    top1 = hits.filter(F.col("rank") == 1).select("query_id", "__pid").collect()
    for r in top1:
        assert r["__pid"].split("#")[0] == r["query_id"]

    packed = pack_context(hits.join(index.select(F.concat_ws("#", "doc_id", "chunk_index").alias("__pid"), "chunk_text"), "__pid"))
    assert packed.count() >= 1

    golden = spark.createDataFrame(
        [(str(r["doc_id"]), str(r["doc_id"])) for r in probe],
        ["query_id", "expected_doc_id"],
    )
    hits_doc = hits.withColumn("doc_id", F.split(F.col("__pid"), "#").getItem(0))
    m = recall_at_k(hits_doc, golden, hit_doc="doc_id").first()
    assert m["recall"] == 1.0


def test_salted_join_matches_plain(spark):
    from knowledge_model_spark.operators.relational import salted_join
    import pyspark.sql.functions as F

    # skewed left: 90% of rows share key 0
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    got = salted_join(left, right, "k", n_salt=8)
    exp = left.join(right, "k")
    assert got.count() == exp.count() > 0
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_load_tables_repoints_views_per_call(spark):
    """Temp views are session-global; a load against another sf_dir must not
    leave `FROM documents` SQL reading the wrong scale factor (the exact
    interleaving the full test suite produces: sf0.001 fixtures + sf0.01
    oracle-parity queries sharing one session)."""
    from tests.conftest import ORACLE_SF_DIR, SF_DIR
    from knowledge_model_spark.session import load_tables

    small = load_tables(spark, SF_DIR)["orders"].count()
    big = load_tables(spark, ORACLE_SF_DIR)["orders"].count()
    assert small != big  # distinct scale factors, or the test proves nothing
    load_tables(spark, SF_DIR)
    assert spark.table("orders").count() == small
    load_tables(spark, ORACLE_SF_DIR)
    assert spark.table("orders").count() == big


def test_load_tables_builds_spread_variants_on_first_read(spark, monkeypatch):
    """load_tables spreads neither documents nor embeddings until a
    ``*_spread`` key is read, then keeps the variant; a registry query
    over documents_spread returns the rows of the unspread table."""
    from tests.conftest import SF_DIR
    from knowledge_model_spark import session
    from knowledge_model_spark.functions.text_analysis import lang_id
    from knowledge_model_spark.plans import load_registry

    calls = []

    def recording(fn):
        def wrapped(df, *args, **kwargs):
            calls.append(fn.__name__)
            return fn(df, *args, **kwargs)

        return wrapped

    monkeypatch.setattr(session, "_TABLE_CACHE", {})
    monkeypatch.setattr(session, "ensure_min_partitions", recording(session.ensure_min_partitions))
    monkeypatch.setattr(session, "spread_vectors", recording(session.spread_vectors))
    t = session.load_tables(spark, SF_DIR)
    t["documents"], t["embeddings"]
    assert calls == []

    rows = load_registry()["text_lang_id"].fn(spark, SF_DIR).collect()
    assert calls == ["ensure_min_partitions"]
    want = t["documents"].select("doc_id", "lang", lang_id(F.col("text")).alias("pred_lang"))
    assert sorted(rows) == sorted(want.collect())
    assert t["documents_spread"] is t["documents_spread"]
    t["embeddings_spread"]
    assert calls[:2] == ["ensure_min_partitions", "spread_vectors"]
    with pytest.raises(KeyError):
        t["nation_spread"]


def test_every_registered_query_survives_empty_tables(spark, tmp_path):
    """Empty partitions happen at 100 TB; an engine must return empty
    results, not ANSI arithmetic errors or numpy axis crashes.  Sweep
    EVERY registered query against zero-row twins of all ten tables.
    (This sweep found 10 crashers: bm25/rrf corpus stats, dsir/logppl
    vocabulary totals, pagerank node count, zorder bounds, semantic
    seeds, pq/ivfpq codebook training.)"""
    import duckdb

    from knowledge_model_spark.plans import load_registry

    d = tmp_path / "empty_sf"
    d.mkdir()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"COPY (SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' LIMIT 0)"
            f" TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    failures = []
    for name, spec in load_registry().items():
        try:
            spec.fn(spark, str(d)).count()
        except Exception as ex:  # noqa: BLE001 — we report them all at once
            failures.append(f"{name}: {type(ex).__name__}")
    assert not failures, failures
