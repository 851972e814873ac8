"""Dedup operator correctness vs constructed ground truth.

The xxhash64-based operators (MinHash-LSH, SimHash) have no DuckDB
oracle; here they are validated against documents with KNOWN duplicate
structure: planted exact dups, near-dups (small edits), and unrelated
text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knowledge_model_spark.operators.dedup import (
    dedup_exact,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    exact_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm windowsill and birds sing in the garden trees all day "
    "long through spring summer and early autumn afternoons quietly"
)

# malformed input: every id given twice
DUP_ID_ROWS = [(0, BASE), (0, BASE), (1, BASE + " tail"), (1, BASE + " tail")]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("quick", "rapid")),  # near-dup of 0 (1-word edit)
        (3, BASE.replace("sleeps", "rests").replace("sing", "chirp")),  # near-dup
        (4, "completely different content about database engines and "
            "columnar storage formats with vectorized execution kernels "
            "processing analytical workloads at petabyte scale every day"),
        (5, "Thé Quick—brown FOX!! jumps over the lazy dog while the cat sleeps "
            "on the warm windowsill and birds sing in the garden trees all day "
            "long through spring summer and early autumn afternoons quietly"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    groups = exact_duplicates(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["keep_id"] == 0 and g["dup_ids"] == [1] and g["n_dups"] == 2

    survivors = dedup_exact(docs, "doc_id", "text")
    assert survivors.count() == 6  # 7 docs − 1 exact dup


def test_ngram_jaccard_ground_truth(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # single-word edit keeps most shingles
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical signatures
    assert (0, 2) in pairs  # near-dup caught by banding
    assert not any(4 in p for p in pairs)


def test_minhash_estimates_track_exact_jaccard(spark, tables):
    """On real corpus data: est_jaccard within 0.2 of exact for all
    reported pairs (128 hashes → σ ≈ 0.04)."""
    docs = tables["documents"]
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    # every high-similarity exact pair (≥0.7) must be found by LSH
    for pair, j in exact.items():
        if j >= 0.7:
            assert pair in est, f"LSH missed high-sim pair {pair} (jaccard={j})"
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) < 0.2


def test_simhash_ground_truth(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in simhash_pairs(docs, "doc_id", "text", max_distance=8).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # identical text
    assert (0, 5) in pairs and pairs[(0, 5)] <= 4  # case/punct variant
    assert not any(4 in p for p in pairs)


def test_embedding_near_dup(spark, tables):
    emb = tables["embeddings"].limit(200)
    pairs = embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.99)
    rows = pairs.collect()
    for r in rows:
        assert r["cosine"] >= 0.99


def test_embedding_lsh_matches_exact_on_planted_dups(spark, tables):
    """LSH-bucketed near-dup must find every planted ≥0.95 pair that the
    exact brute-force baseline finds (full recall at this threshold), and
    report identical cosines (precision is structural: every candidate is
    re-verified)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base_rows = tables["embeddings"].limit(100).collect()
    planted = []
    next_id = 100000
    for r in base_rows[:20]:  # plant a tiny-perturbation near-dup per vector
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        noise = rng.standard_normal(v.shape) * 0.02
        planted.append((next_id, (v + noise).tolist()))
        next_id += 1
    all_rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in base_rows]
    df = spark.createDataFrame(all_rows + planted, ["vec_id", "embedding"])

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(df, "vec_id", "embedding", 0.95).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs_lsh(
            df, "vec_id", "embedding", 0.95, dim=64
        ).collect()
    }
    assert len(exact) >= 20  # the planted pairs are really there
    assert set(lsh) == set(exact)  # full recall AND structural precision
    for p, c in lsh.items():
        assert c == exact[p]


def test_ngram_max_df_prunes_stop_shingles(spark):
    """A boilerplate phrase shared by ALL docs must not blow up the
    inverted-index join: with max_df on, candidate pairs collapse to the
    true near-dups while recall on them holds."""
    boiler = "this article is distributed under the terms of the creative commons license "
    rows = [(0, boiler + BASE), (1, boiler + BASE.replace("quick", "rapid"))]
    # 18 docs sharing ONLY the boilerplate prefix (unique suffixes)
    rows += [
        (i, boiler + f"unique subject {i} covering topic number {i * 7} "
            f"with entirely distinct narrative content item {i * 13} "
            f"and more filler words specific to document {i * 31}")
        for i in range(2, 20)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # Unpruned: the boilerplate shingles force every doc pair through the
    # groupBy (190 pairs materialized as candidates).
    unpruned_cands = (
        ngram_jaccard_pairs(docs, "doc_id", "text", k=5, threshold=0.0)
        .count()
    )
    assert unpruned_cands == 190  # all C(20,2) pairs share a shingle

    # Pruned at max_df=3: boilerplate shingles (df=20) drop out of the
    # sets; only docs sharing genuine content ever pair.
    pruned = ngram_jaccard_pairs(
        docs, "doc_id", "text", k=5, threshold=0.0, max_df=3
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pruned.collect()}
    assert set(got) == {(0, 1)}  # candidate count collapsed 190 → 1
    # recall holds: the true near-dup pair survives with high Jaccard
    # over the pruned shingle universe (a 1-word edit at k=5 perturbs 5
    # shingles per side → ≈0.75)
    assert got[(0, 1)] > 0.7


def test_bucket_cap_default_keeps_recall_on_true_pairs(spark, docs):
    """The default max_bucket_size must not drop the planted near-dups
    (test buckets are far below the cap), and a tiny explicit cap only
    removes pairs, never corrupts them."""
    base = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert (0, 1) in base and (0, 5) in base  # planted exact/near dups
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.8, max_bucket_size=2
        ).collect()
    }
    assert capped <= base

    sim = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(docs, "doc_id", "text", max_distance=3).collect()
    }
    assert (0, 1) in sim
    sim_capped = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs(
            docs, "doc_id", "text", max_distance=3, max_bucket_size=2
        ).collect()
    }
    assert sim_capped <= sim


def test_duplicate_input_ids_never_self_pair(spark):
    """Malformed input (same id twice) must not emit (x,x) pairs."""
    docs = spark.createDataFrame(DUP_ID_ROWS, ["doc_id", "text"])
    for pairs in (
        minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5),
        simhash_pairs(docs, "doc_id", "text", max_distance=3),
    ):
        got = pairs.select("id_a", "id_b").collect()
        assert all(r["id_a"] != r["id_b"] for r in got)
        assert {(r["id_a"], r["id_b"]) for r in got} == {(0, 1)}


def test_minhash_batch_is_incremental_over_empty_store(spark, docs, tmp_path):
    """The batch operator returns exactly the rows of one ingest tick into
    an empty store, est_jaccard included — also for duplicate input ids."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_pairs

    dup_ids = spark.createDataFrame(DUP_ID_ROWS, ["doc_id", "text"])
    for i, df in enumerate((docs, dup_ids)):
        batch = sorted(minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect())
        store = str(tmp_path / f"sketches{i}")
        tick = minhash_incremental_pairs(df, "doc_id", "text", store, threshold=0.5)
        assert batch and sorted(tick.collect()) == batch


def test_minhash_incremental_batches(spark, tmp_path):
    """Batch 2 finds its dups against batch 1 via the durable sketch
    store without resketching batch 1, never re-reports old-old pairs,
    and matches the all-at-once batch operator on the reportable set."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_pairs

    store = str(tmp_path / "sketches")
    batch1 = spark.createDataFrame(
        [(0, BASE), (1, BASE), (4, "something else entirely about other topics "
                                   "and more words to make it a real document")],
        ["doc_id", "text"],
    )
    p1 = {
        (r["id_a"], r["id_b"])
        for r in minhash_incremental_pairs(
            batch1, "doc_id", "text", store, threshold=0.8
        ).collect()
    }
    assert p1 == {(0, 1)}  # in-batch dup found on the first batch

    batch2 = spark.createDataFrame(
        [(7, BASE.replace("quick", "rapid")), (8, BASE.replace("quick", "rapid"))],
        ["doc_id", "text"],
    )
    p2 = {
        (r["id_a"], r["id_b"])
        for r in minhash_incremental_pairs(
            batch2, "doc_id", "text", store, threshold=0.8
        ).collect()
    }
    # new-vs-old (0,7),(0,8),(1,7),(1,8) and new-vs-new (7,8);
    # old-vs-old (0,1) must NOT reappear
    assert (0, 1) not in p2
    assert (7, 8) in p2 and (0, 7) in p2 and (1, 8) in p2

    # equivalence with the batch operator on the union corpus, minus
    # pairs wholly inside batch 1
    union_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            batch1.unionByName(batch2), "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert p2 == {p for p in union_pairs if not (p[0] <= 4 and p[1] <= 4)}


def test_minhash_incremental_pairs_frees_its_sketch_cache(spark, tmp_path):
    """A tick unpersists the batch sketches it cached, so repeated ticks do
    not grow executor storage: after two ticks, no RDD they persisted is
    still persistent.  Compared by id, not count, and local checkpoints
    are left out: those hold the returned pairs and stay registered until
    the JVM collects them, as RDDs of earlier tests may be meanwhile."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_pairs

    def persistent():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {i for i in rdds if not rdds[i].rdd().isLocallyCheckpointed()}

    store = str(tmp_path / "sketches")
    before = persistent()
    for ids in ((0, 1), (2, 3)):
        batch = spark.createDataFrame([(i, BASE) for i in ids], ["doc_id", "text"])
        assert minhash_incremental_pairs(batch, "doc_id", "text", store).count() >= 1
    assert persistent() - before == set()


def test_reused_sketches_leave_no_cache_entry(spark, docs, tables):
    """The operators that reuse a sketch or another intermediate
    materialize it with an eager local checkpoint, not a cache that no
    caller releases: after each collect, the session's cache manager is
    still empty."""
    import numpy as np

    from knowledge_model_spark.operators.dedup import semantic_dedup_pairs
    from knowledge_model_spark.operators.quantization import ivfpq_top_k
    from knowledge_model_spark.operators.sketches import bitmap_distinct_rollup
    from knowledge_model_spark.operators.text_rank import bow_cosine_pairs

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((8, 64))
    vecs[1] = vecs[0] + 0.01  # one planted near-dup
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    queries = tables["embeddings"].filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    runs = {
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs, "doc_id", "text"),
        "embedding_near_dup_pairs_lsh": lambda: embedding_near_dup_pairs_lsh(
            emb, "vec_id", "embedding"
        ),
        "semantic_dedup_pairs": lambda: semantic_dedup_pairs(
            emb, "vec_id", "embedding", n_clusters=2
        ),
        "bow_cosine_pairs": lambda: bow_cosine_pairs(docs, "doc_id", "text"),
        "ivfpq_top_k": lambda: ivfpq_top_k(
            tables["embeddings"], queries, "vec_id", "embedding", "query_id", "qv", k=5
        ),
        "bitmap_distinct_rollup": lambda: bitmap_distinct_rollup(
            tables["events"].withColumn("day", F.col("ts").cast("date")),
            ["event_type", "day"], ["event_type"], "user_id",
        )[1],
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for name, run in runs.items():
        assert run().collect(), name
        assert cache.isEmpty(), name


def test_minhash_incremental_replay_replaces_its_sketches(spark, tmp_path):
    """A replayed batch returns the rows of its first run, each pair once,
    and overwrites its own store partition instead of appending to it."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_pairs

    store = str(tmp_path / "sketches")
    batch1 = spark.createDataFrame(
        [(0, BASE), (4, "an unrelated first document")], ["doc_id", "text"]
    )
    batch2 = spark.createDataFrame(
        [(7, BASE.replace("quick", "rapid")), (8, BASE.replace("quick", "rapid"))],
        ["doc_id", "text"],
    )
    minhash_incremental_pairs(batch1, "doc_id", "text", store).collect()
    first = sorted(minhash_incremental_pairs(batch2, "doc_id", "text", store).collect())
    n_store = spark.read.parquet(store).count()
    replay = sorted(minhash_incremental_pairs(batch2, "doc_id", "text", store).collect())
    assert {(r["id_a"], r["id_b"]) for r in first} == {(0, 7), (0, 8), (7, 8)}
    assert replay == first and len(set(replay)) == len(replay)
    assert spark.read.parquet(store).count() == n_store == 4
    # an earlier batch replayed after a later one keeps its arrival rank:
    # it pairs with nothing that arrived after it
    assert minhash_incremental_pairs(batch1, "doc_id", "text", store).collect() == []
    assert spark.read.parquet(store).count() == n_store


def test_minhash_incremental_refuses_a_flat_store(spark, tmp_path):
    """Sketches written flat at the store root (the former append-only
    layout) are refused, not silently dropped from the dedup history."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_pairs

    store = str(tmp_path / "sketches")
    flat = spark.createDataFrame([(0, [1], [1])], "id long, sig array<long>, bkt array<long>")
    flat.write.parquet(store)
    batch = spark.createDataFrame([(1, BASE)], ["doc_id", "text"])
    with pytest.raises(ValueError, match="batch="):
        minhash_incremental_pairs(batch, "doc_id", "text", store)


@pytest.mark.parametrize(
    "edge", [[], [(20, ""), (21, "!!! ...")]], ids=["zero_rows", "empty_texts"]
)
def test_minhash_incremental_edge_batches(spark, tmp_path, edge):
    """A batch with no rows, or whose texts normalize to empty, finds no
    pairs and leaves the store readable; the next batch finds its pairs
    against the batch before it."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_pairs

    store = str(tmp_path / "sketches")
    ticks = [[(0, BASE)], edge, [(30, BASE.replace("quick", "rapid"))]]
    got = []
    for rows in ticks:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = minhash_incremental_pairs(batch, "doc_id", "text", store)
        got.append({(r["id_a"], r["id_b"]) for r in pairs.collect()})
        assert spark.read.parquet(store).filter(F.col("sig").isNotNull()).count() >= 1
    assert got == [set(), set(), {(0, 30)}]


def test_minhash_incremental_survivors_doom_the_later_arrival(spark, tmp_path):
    """First-seen-wins by arrival, not by id: batch 2's near-dup of a
    stored doc is dropped even when its id is smaller; within one batch
    the larger id of a pair goes."""
    from knowledge_model_spark.operators.dedup import minhash_incremental_survivors

    store = str(tmp_path / "sketches")
    batch1 = spark.createDataFrame(
        [(10, BASE), (11, "an unrelated first document")], ["doc_id", "text"]
    )
    batch2 = spark.createDataFrame(
        [(3, BASE.replace("quick", "rapid")), (12, "another unrelated one here"),
         (14, "a fresh text of batch two"), (13, "a fresh text of batch two")],
        ["doc_id", "text"],
    )
    kept = []
    for batch in (batch1, batch2):
        survivors = minhash_incremental_survivors(batch, "doc_id", "text", store)
        kept.append(sorted(r["doc_id"] for r in survivors.collect()))
    assert kept == [[10, 11], [12, 13]]


# ------------------------------------------------------ semantic dedup


def test_semantic_dedup_recovers_exactly_planted_twins(spark, tables):
    from pyspark.sql import functions as F

    from knowledge_model_spark.operators.dedup import semantic_dedup_pairs

    e = tables["embeddings"].select("vec_id", "embedding")
    twins = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    corpus = e.unionByName(twins)
    pairs = semantic_dedup_pairs(
        corpus, "vec_id", "embedding", n_clusters=8, threshold=0.99
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    planted = {
        (r["vec_id"], r["vec_id"] + 1_000_000)
        for r in e.filter(F.col("vec_id") % 5 == 0).collect()
    }
    # every planted twin co-clusters with its original (cosine ~0.9988)
    # and nothing else in the raw table is near-dup (max cosine ~0.51)
    assert got == planted


def test_semantic_dedup_survivors_keep_min_id(spark, tables):
    from pyspark.sql import functions as F

    from knowledge_model_spark.operators.dedup import semantic_dedup_survivors

    e = tables["embeddings"].select("vec_id", "embedding")
    twins = e.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = e.unionByName(twins)
    surv = {
        r["vec_id"]
        for r in semantic_dedup_survivors(
            corpus, "vec_id", "embedding", n_clusters=8, threshold=0.99
        ).collect()
    }
    originals = {r["vec_id"] for r in e.collect()}
    assert surv == originals  # every twin collapsed onto its original


def test_semantic_dedup_deterministic(spark, tables):
    from knowledge_model_spark.operators.dedup import semantic_dedup_pairs

    e = tables["embeddings"].select("vec_id", "embedding").limit(200)
    a = sorted(map(tuple, semantic_dedup_pairs(e, "vec_id", "embedding", 4, 0.9).collect()))
    b = sorted(map(tuple, semantic_dedup_pairs(e, "vec_id", "embedding", 4, 0.9).collect()))
    assert a == b


def test_eval_dedup_recall_gate_passes(spark):
    """The registered dedup quality gate holds: both approximate methods
    recover >= 0.9 of exact n-gram-Jaccard >= 0.8 pairs."""
    from knowledge_model_spark.plans import load_registry

    rows = {
        r.method: r
        for r in load_registry()["eval_dedup_recall_vs_exact"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert set(rows) == {"minhash_lsh", "simhash"}
    for m, r in rows.items():
        assert r.passes_gate, f"{m}: recall {r.recall} below gate"
        assert r.n_true_pairs > 0


def test_prefix_filter_equals_allpairs(spark, tables):
    """The AllPairs/PPJoin prefix filter must be LOSSLESS: identical
    result set (pairs AND jaccard values) to the full inverted-index
    join, across thresholds that exercise the exact-⌈t·n⌉ boundary
    (0.8·5 = 4 exactly — a float ceil would shorten the prefix here)."""
    docs = tables["documents"]
    for t in (0.5, 0.8):
        fast = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", k=5, threshold=t
            ).collect()
        }
        base = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", k=5, threshold=t, algorithm="allpairs"
            ).collect()
        }
        assert fast == base, f"threshold {t}: prefix filter dropped pairs"


def test_prefix_filter_equals_allpairs_with_max_df(spark, tables):
    """Prefix filtering composes with the stop-shingle cut: both paths
    prune the SAME universe, so results stay identical."""
    docs = tables["documents"]
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", k=5, threshold=0.5, max_df=50
        ).collect()
    }
    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", k=5, threshold=0.5, max_df=50,
            algorithm="allpairs",
        ).collect()
    }
    assert fast == base


def test_minhash_md5_twin_ground_truth(spark, docs, tables):
    """The md5-oracled twin (r7) passes the SAME exact-Jaccard gates as
    the fast path: identical docs estimate 1.0, near-dups are caught by
    banding, unrelated docs never pair, and on corpus data every
    exact-Jaccard ≥ 0.8 pair is found with the estimate within 0.2."""
    from knowledge_model_spark.operators.dedup import (
        minhash_lsh_pairs_md5,
        ngram_jaccard_pairs,
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs_md5(
            docs, "doc_id", "text", threshold_num=1, threshold_den=2
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs
    assert not any(4 in p for p in pairs)

    corpus = tables["documents"]
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            corpus, "doc_id", "text", threshold=0.5
        ).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs_md5(
            corpus, "doc_id", "text", threshold_num=1, threshold_den=2
        ).collect()
    }
    for pair, j in exact.items():
        if j >= 0.8:
            assert pair in est, f"md5 LSH missed high-sim pair {pair} ({j})"
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) < 0.2


def test_simhash_md5_twin_ground_truth(spark, docs):
    from knowledge_model_spark.operators.dedup import simhash_pairs_md5

    pairs = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in simhash_pairs_md5(
            docs, "doc_id", "text", max_distance=8
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0  # identical text
    assert (0, 5) in pairs and pairs[(0, 5)] <= 4  # case/punct variant
    assert not any(4 in p for p in pairs)


def test_duplicate_substring_spans_planted_geometry(spark, tmp_path):
    """dedup_duplicate_substring_spans (r7, the Lee et al. exact
    substring formulation): planted shared substrings produce
    position-exact span geometry — a 70-char string shared by two docs
    flags exactly the 70-char span in both (21 windows of 50 merge to
    one island), unique text flags nothing, and two separated shared
    regions stay two spans."""
    import pandas as pd

    from knowledge_model_spark.plans import load_registry

    import random

    rng = random.Random(42)

    def rand_text(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))

    dup70 = rand_text(70)
    dup50a = rand_text(50)
    dup50b = rand_text(50)
    docs = [
        (0, rand_text(100) + dup70 + rand_text(80)),       # dup at [100,170)
        (1, dup70 + rand_text(200)),                        # dup at [0,70)
        (2, rand_text(260)),                                # clean
        (3, dup50a + rand_text(120) + dup50b),              # two spans
        (4, rand_text(60) + dup50a + rand_text(90) + dup50b + rand_text(30)),
        (5, "short"),                                       # < k chars
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "t"
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    R = load_registry()
    rows = {
        r["doc_id"]: r
        for r in R["dedup_duplicate_substring_spans"].fn(spark, str(tmp_path)).collect()
    }
    assert rows[0]["n_dup_spans"] == 1 and rows[0]["dup_chars"] == 70
    assert rows[1]["n_dup_spans"] == 1 and rows[1]["dup_chars"] == 70
    assert rows[2]["n_dup_spans"] == 0 and rows[2]["dup_chars"] == 0
    assert rows[3]["n_dup_spans"] == 2 and rows[3]["dup_chars"] == 100
    assert rows[4]["n_dup_spans"] == 2 and rows[4]["dup_chars"] == 100
    assert rows[5]["n_dup_spans"] == 0 and rows[5]["dup_frac"] == 0.0
