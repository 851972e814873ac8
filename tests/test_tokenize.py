"""BPE tokenizer: learning loop semantics + boundary safety.

Cross-engine apply parity is covered by test_oracle_parity.py
(text_bpe_tokenize); these tests pin the algorithmic claims.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from knowledge_model_spark.functions import tokenize
from knowledge_model_spark.functions.tokenize import (
    bpe_tokens_expr,
    learn_bpe_merges,
)
from knowledge_model_spark.plans.text_queries import _BPE_MERGES


def _tokens(spark, text: str, merges):
    df = spark.createDataFrame([(text,)], ["text"])
    return df.select(bpe_tokens_expr("text", merges).alias("t")).collect()[0]["t"]


def test_learn_recovers_dominant_pairs(spark):
    docs = spark.createDataFrame([("abab abab",)] * 50, ["text"])
    merges = learn_bpe_merges(docs, "text", n_merges=2)
    assert merges == [("a", "b"), ("ab", "ab")]


def test_merge_is_boundary_safe(spark):
    # 'fast' under [(s,t), (a,s)]: after s+t -> st the string is
    # 'f a st'; a cross-boundary match of 'a s' inside 'a st' would
    # produce the bogus token 'ast'
    toks = _tokens(spark, "fast", [("s", "t"), ("a", "s")])
    assert toks == ["f", "a", "st"]


def test_frozen_table_tokenizes_learned_words_whole(spark):
    toks = _tokens(spark, "batch join hash!", _BPE_MERGES)
    assert toks == ["batch", "join", "hash"]


def test_driver_fast_path_matches_distributed_loop(spark, monkeypatch):
    """The size-gated driver merge loop must be bit-identical to the
    distributed per-round loop it short-circuits (same pair counts,
    tie-breaks and boundary-safe double replace) — forced onto each
    path via the gate."""
    docs = spark.createDataFrame(
        [("abab abab cd cd",)] * 5 + [("the cat sat on the mat",)] * 3,
        ["text"],
    )
    local = learn_bpe_merges(docs, "text", n_merges=6)  # vocab ≪ gate
    monkeypatch.setattr(tokenize, "DRIVER_VOCAB_GATE", 0)
    dist = learn_bpe_merges(docs, "text", n_merges=6)
    assert local == dist and len(local) == 6


def test_registered_learning_query_matches_frozen_prefix(spark):
    """text_bpe_learn_merges (rows-only in the driver) carries its exact
    gate HERE: the 12 learned merges at sf0.01 must equal the frozen
    _BPE_MERGES prefix text_bpe_tokenize applies — greedy learning is
    prefix-stable, and the word-table rewrite (one corpus scan) must
    reproduce the per-round-rescan output exactly."""
    from knowledge_model_spark.plans import load_registry

    R = load_registry()
    rows = (
        R["text_bpe_learn_merges"].fn(spark, "/root/testdata/sf0.01")
        .orderBy("rank")
        .collect()
    )
    got = [(r["lhs"], r["rhs"]) for r in rows]
    assert got == _BPE_MERGES[:12]


def test_apply_is_deterministic_and_scan_shaped(spark, tables):
    docs = tables["documents"]
    out = docs.select(
        "doc_id", F.size(bpe_tokens_expr("text", _BPE_MERGES)).alias("n")
    )
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b and len(a) > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # zero Python on the apply path
    assert "Exchange" not in plan  # scan-speed projection


def test_unigram_driver_fast_path_matches_distributed_loop(spark, monkeypatch):
    """The size-gated driver EM path must be bit-identical to the
    distributed one it short-circuits (same seed counts and tie-breaks,
    same viterbi_pieces DP, exact integer E-step sums) — forced onto
    each path via the gate, including the logprob floats."""
    from knowledge_model_spark.functions.tokenize import learn_unigram_lm

    docs = spark.createDataFrame(
        [("the cat sat on the mat",)] * 12 + [("banana bandana cabana",)] * 7,
        ["text"],
    )
    kw = dict(vocab_size=16, seed_multi=24, n_rounds=3)
    local = learn_unigram_lm(docs, "text", **kw)  # vocab ≪ gate
    monkeypatch.setattr(tokenize, "DRIVER_VOCAB_GATE", 0)
    dist = learn_unigram_lm(docs, "text", **kw)
    assert local == dist and len(local) == 16


def test_unigram_lm_recovers_planted_words(spark):
    """learn_unigram_lm: a corpus dominated by five words must keep
    those words as whole pieces with their exact weighted counts after
    the prune schedule — the Kudo-loop sanity anchor."""
    from knowledge_model_spark.functions.tokenize import learn_unigram_lm

    docs = spark.createDataFrame(
        [("the cat sat on the mat",)] * 40 + [("banana bandana",)] * 30,
        ["text"],
    )
    out = learn_unigram_lm(docs, "text", vocab_size=16, seed_multi=24, n_rounds=3)
    got = {p: c for p, c, _ in out}
    assert got["the"] == 80
    for w in ("cat", "sat", "mat", "on"):
        assert got[w] == 40, (w, got)
    # singles survive pruning even at zero Viterbi count (coverage)
    assert "t" in got and "e" in got


def test_unigram_lm_matches_frozen_prefix_two_sfs(spark):
    """text_unigram_lm_train (rows-only in the driver) carries its
    exact gate HERE, the text_bpe_learn_merges pattern at TWO SFs: the
    top-16 learned pieces must equal the frozen prefixes below, and the
    result must be bit-stable under an adversarial repartitioning (the
    E-step is per-word max/argmax and the counts are exact ints, so
    partitioning cannot reorder anything observable)."""
    from knowledge_model_spark.functions.tokenize import learn_unigram_lm
    from knowledge_model_spark.plans import load_registry
    from knowledge_model_spark.session import load_tables

    R = load_registry()
    frozen = {
        "/root/testdata/sf0.001": [
            "a", "scan", "column", "window", "order", "sort", "part",
            "agg", "value", "line", "key", "join", "merge", "group",
            "query", "vector",
        ],
        "/root/testdata/sf0.01": [
            "t", "par", "g", "s", "a", "join", "hash", "row", "batch",
            "scan", "column", "custom", "er", "filter", "small", "merge",
        ],
    }
    for sf, want in frozen.items():
        rows = (
            R["text_unigram_lm_train"].fn(spark, sf).orderBy("rank").collect()
        )
        assert [r["piece"] for r in rows[:16]] == want, sf
        assert len(rows) == 64
        # repartition determinism: same pieces, counts, logprobs
        again = learn_unigram_lm(
            load_tables(spark, sf)["documents_spread"].repartition(13), "text"
        )
        assert [(r["piece"], r["cnt"], r["logprob"]) for r in rows] == [
            (p, c, lp) for p, c, lp in again
        ], sf


def test_unigram_tokenize_matches_python_and_freeze(spark):
    """text_unigram_lm_tokenize (rows-only in the driver): per-doc
    piece statistics re-derived with an independent textbook Viterbi
    over the SAME frozen vocab match row-for-row at sf0.001; the
    trainer's sf0.01 output must equal the frozen _UNIGRAM_VOCAB it
    applies (trainer/apply can never drift); determinism across runs."""
    import math
    import re

    from knowledge_model_spark.plans import load_registry
    from knowledge_model_spark.plans.text_queries import (
        _UNIGRAM_UNK,
        _UNIGRAM_VOCAB,
    )
    from knowledge_model_spark.session import load_tables

    R = load_registry()
    logp = dict(_UNIGRAM_VOCAB)
    maxlen = max(len(p) for p in logp)

    def ref_pieces(w):
        # independent O(n·maxlen) DP, ties longer-final-piece
        m = len(w)
        dp = [0.0] + [-math.inf] * m
        back = [0] * (m + 1)
        for j in range(1, m + 1):
            for i in range(max(0, j - maxlen), j):
                lp = logp.get(w[i:j])
                if lp is None:
                    lp = _UNIGRAM_UNK if j - i == 1 else None
                if lp is None or dp[i] == -math.inf:
                    continue
                if dp[i] + lp > dp[j]:
                    dp[j], back[j] = dp[i] + lp, i
        out = []
        j = m
        while j > 0:
            out.append(w[back[j]:j])
            j = back[j]
        return out[::-1]

    sf = "/root/testdata/sf0.001"
    rows = {r["doc_id"]: r for r in
            R["text_unigram_lm_tokenize"].fn(spark, sf).collect()}
    docs = {d["doc_id"]: d["text"]
            for d in load_tables(spark, sf)["documents"].collect()}
    assert rows and set(rows) == set(docs)
    word_re = re.compile(r"[a-z0-9]+")
    for did, text in docs.items():
        words = word_re.findall(text.lower())
        pieces = [p for w in words for p in ref_pieces(w)]
        n_unk = sum(1 for p in pieces if p not in logp)
        r = rows[did]
        assert r["n_words"] == len(words)
        assert r["n_pieces"] == len(pieces), did
        assert r["n_unk_chars"] == n_unk
        chars = sum(len(w) for w in words)
        want = chars / len(pieces) if pieces else 0.0
        assert abs(r["chars_per_piece"] - want) < 1e-12

    # trainer == frozen table (drift guard)
    from knowledge_model_spark.functions.tokenize import learn_unigram_lm

    learned = learn_unigram_lm(
        load_tables(spark, "/root/testdata/sf0.01")["documents_spread"],
        "text",
    )
    assert [(p, lp) for p, _, lp in learned] == _UNIGRAM_VOCAB

    # determinism
    again = {r["doc_id"]: r
             for r in R["text_unigram_lm_tokenize"].fn(spark, sf).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_unigram_lm_rejects_unsatisfiable_vocab_size(spark):
    """r10 ADVICE: when the corpus alphabet alone exceeds vocab_size,
    learn_unigram_lm must raise (singles are never pruned, so the
    contract is unsatisfiable) instead of silently returning more than
    vocab_size pieces."""
    import pytest as _pytest

    from knowledge_model_spark.functions.tokenize import learn_unigram_lm

    docs = spark.createDataFrame(
        [("abcdefghij klmnopqrst",)], ["text"]
    )  # 20 distinct characters
    with _pytest.raises(ValueError, match="alphabet"):
        learn_unigram_lm(docs, "text", vocab_size=8, seed_multi=4, n_rounds=1)
    # a satisfiable size still trains
    out = learn_unigram_lm(docs, "text", vocab_size=20, seed_multi=4, n_rounds=1)
    assert len(out) <= 20 and out


def test_wordpiece_greedy_semantics():
    """wordpiece_pieces: greedy longest-match-first with ## continuation
    pieces and the all-or-nothing [UNK] word rule."""
    from knowledge_model_spark.functions.tokenize import wordpiece_pieces

    vocab = {"un", "##able", "##a", "##b", "##l", "##e", "a", "b", "l", "e"}
    # longest match wins at each position
    assert wordpiece_pieces("unable", vocab, 5) == ["un", "##able"]
    # word-initial pieces match bare, internal ones need ##
    assert wordpiece_pieces("able", vocab, 5) == ["a", "##b", "##l", "##e"]
    # any uncoverable position voids the WHOLE word
    assert wordpiece_pieces("unfixable", vocab, 5) == ["[UNK]"]
    assert wordpiece_pieces("", vocab, 5) == []


def test_wordpiece_tokenize_matches_python_and_freeze(spark):
    """text_wordpiece_tokenize: the Spark mapInPandas output must equal
    an independent pure-python recompute over the same documents with
    the same frozen vocab (exact, every column), and be identical under
    a different input partitioning."""
    import re

    from knowledge_model_spark.functions.tokenize import wordpiece_pieces
    from knowledge_model_spark.plans import load_registry
    from knowledge_model_spark.plans.text_queries import (
        _WORDPIECE_MAXLEN,
        _WORDPIECE_VOCAB,
    )
    from knowledge_model_spark.session import load_tables

    sf_dir = "/root/testdata/sf0.001"
    R = load_registry()
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], r["n_unk_words"],
                      r["n_continuations"], r["chars_per_piece"])
        for r in R["text_wordpiece_tokenize"].fn(spark, sf_dir).collect()
    }
    t = load_tables(spark, sf_dir)
    word_re = re.compile(r"[a-z0-9]+")
    want = {}
    for row in t["documents_spread"].select("doc_id", "text").collect():
        words = word_re.findall(str(row["text"]).lower())
        n_pieces = n_unk = n_cont = n_chars = 0
        for w in words:
            n_chars += len(w)
            pieces = wordpiece_pieces(w, _WORDPIECE_VOCAB, _WORDPIECE_MAXLEN)
            if pieces == ["[UNK]"]:
                n_unk += 1
            n_pieces += len(pieces)
            n_cont += sum(1 for p in pieces if p.startswith("##"))
        cpp = n_chars / n_pieces if n_pieces else 0.0
        want[row["doc_id"]] = (len(words), n_pieces, n_unk, n_cont, cpp)
    assert got == want
    # the full-coverage vocab means UNK never fires on the real corpus
    assert all(v[2] == 0 for v in got.values())
    # continuation pieces actually occur (multi-piece words exist)
    assert any(v[3] > 0 for v in got.values())

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        again = {
            r["doc_id"]: (r["n_words"], r["n_pieces"], r["n_unk_words"],
                          r["n_continuations"], r["chars_per_piece"])
            for r in R["text_wordpiece_tokenize"].fn(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert again == got
