"""Document key-term ranking (TF-IDF family) as DataFrame compositions.

The oracle-gated query (plans/training_queries.py::text_top_terms) uses
the exact-rational tf/df score; this module adds the classic log-IDF
variant for API completeness — ln() can differ in the last ulp across
engines, so it is validated against a pandas reference implementation in
tests rather than the DuckDB hash gate.

Plan shape (both variants): tf = one shuffle on (doc, term); df = a
term-level aggregate that AQE broadcasts back — no all-pairs work, holds
at corpus scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MIN_TOKEN_LEN = 2  # lowercase alnum tokens shorter than this are dropped

# Okapi BM25 term-frequency saturation and length normalization
BM25_K1 = 1.2
BM25_B = 0.75


def doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) rows: lowercased alnum tokens of length >= MIN_TOKEN_LEN."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda w: F.length(w) >= MIN_TOKEN_LEN,
            )
        ).alias("term"),
    )


def top_terms_tfidf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Top-k terms per document by TF-IDF with smoothed log IDF.

    idf = ln((N + 1) / (df + 1)) + 1 (sklearn-style — never zero,
    division-safe).  Deterministic tiebreak on the term string.
    """
    terms = doc_terms(df, id_col, text_col)
    n_docs = terms.select("id").distinct().count()
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = terms.groupBy("term").agg(F.countDistinct("id").alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
    scored = tf.join(dfreq, "term").withColumn("tfidf", F.col("tf") * idf)
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id", "term", "tf", "df", "tfidf", "rnk")
    )


def bm25_rank(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k documents for a literal query.

    score(d) = Σ_t ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                 · tf · (k1+1) / (tf + k1·(1 - b + b·dl/avgdl)),
    k1 = ``BM25_K1``, b = ``BM25_B``

    Engine-parity design (the oracle recomputes the same formula):

    - ONE shuffle: a single groupBy(doc) produces dl and each query
      term's tf as conditional counts — per-term columns in a fixed
      literal order, so the score is a deterministic left-to-right sum
      (no float-addition order ambiguity across runs or engines).
    - N / total_dl / df_t are driver scalars from one 1-row agg (exact
      longs); avgdl = total_dl/N is one exact double division, NOT an
      incremental float avg().
    - Ranking uses the score ROUNDED to 6 dp (doc_id tiebreak): ln()
      can differ in the last ulp between JVM and C libm, so ordering on
      the raw double would be rank-unstable across engines (the same
      hazard text_top_terms documents).

    Scale: the tokenizer explode + combiner-friendly groupBy is the only
    corpus-sized movement; everything after operates on one row per doc.
    """
    terms = doc_terms(df, id_col, text_col)
    tf_cols = [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    # two consumers (the scalar stats collect + the final scoring scan)
    # — materialize the per-doc tf table once, or the tokenize+groupBy
    # runs in the collect job and again in the main job
    perdoc = (
        terms.groupBy("id")
        .agg(F.count("*").alias("dl"), *tf_cols)
        .localCheckpoint(eager=True)
    )

    stats = perdoc.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    ).collect()[0]  # one row of exact longs — driver scalars by design
    n_docs = stats["n"]
    if not n_docs:
        # empty corpus: empty result with the output schema, not a
        # NoneType arithmetic error (empty-input sweep contract)
        return (
            perdoc.select(F.col("id"), F.lit(0.0).alias("bm25"))
            .withColumn("rnk", F.lit(0))
            .limit(0)
        )
    avgdl = stats["total_dl"] / n_docs

    norm = F.col("dl") / F.lit(avgdl)
    score = F.lit(0.0)
    matched = F.lit(False)
    for i in range(len(query_terms)):
        dfreq = stats[f"df_{i}"]
        idf = F.log(F.lit(1.0) + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
        tf = F.col(f"tf_{i}")
        score = score + idf * (
            tf * (BM25_K1 + 1.0)
            / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * norm))
        )
        matched = matched | (tf > 0)

    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # partial top-k, no global sort); the unpartitioned row_number window
    # then runs over only the k survivors — never a full-corpus
    # single-partition sort.
    topk = (
        perdoc.filter(matched)
        .select(F.col("id"), F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("bm25").desc(), F.col("id").asc())
    return topk.withColumn("rnk", F.row_number().over(w))


def token_drift(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    ingest-monitoring report a continuously-fed training pipeline runs
    after every batch (did the source mix shift? did a scraper start
    injecting boilerplate?).

    Per token appearing ≥ ``min_count`` times in either snapshot:
    occurrence counts, each snapshot's total token mass, and the rounded
    relative-frequency shift.  Counts and totals are exact longs (the
    judge-safe rational form); only the final shift is a rounded double.

    Scale: one explode + combiner-friendly groupBy per snapshot (shuffle
    carries (token, partial count)), a full outer join on token, and two
    scalar totals broadcast as literals — nothing corpus-sized moves
    twice, no driver row data beyond the two totals.
    """
    def counts(df: DataFrame) -> DataFrame:
        return doc_terms(df, id_col, text_col).groupBy("term").agg(
            F.count("*").alias("cnt")
        )

    # each side feeds its total collect AND the outer join — vocab-size
    # tables, so one eager materialization apiece beats re-tokenizing
    co = counts(old).localCheckpoint(eager=True)
    cn = counts(new).localCheckpoint(eager=True)
    tot_o = co.agg(F.sum("cnt")).collect()[0][0] or 0  # driver scalar
    tot_n = cn.agg(F.sum("cnt")).collect()[0][0] or 0
    joined = (
        co.withColumnRenamed("cnt", "cnt_old")
        .join(cn.withColumnRenamed("cnt", "cnt_new"), "term", "full_outer")
        .select(
            "term",
            F.coalesce("cnt_old", F.lit(0)).cast("long").alias("cnt_old"),
            F.coalesce("cnt_new", F.lit(0)).cast("long").alias("cnt_new"),
        )
        .filter(
            (F.col("cnt_old") >= min_count) | (F.col("cnt_new") >= min_count)
        )
    )
    shift = F.col("cnt_new") / F.lit(float(max(tot_n, 1))) - F.col(
        "cnt_old"
    ) / F.lit(float(max(tot_o, 1)))
    return joined.select(
        "term",
        "cnt_old",
        "cnt_new",
        F.lit(tot_o).cast("long").alias("total_old"),
        F.lit(tot_n).cast("long").alias("total_new"),
        F.round(shift, 9).alias("freq_shift"),
    )


# ------------------------------------------- all-pairs sparse cosine


def bow_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs document similarity on TF-weighted word-``k``-shingle
    vectors (the APSS problem of Bayardo et al., WWW'07), via an
    inverted-index self-join.

    Representation: term-frequency vectors over word k-grams (multiset,
    unlike the set semantics of :func:`ngram_jaccard_pairs` — repeated
    boilerplate inside ONE document weighs in here).  cosine(a, b) =
    dot(a,b) / sqrt(|a|^2 * |b|^2) where dot and the squared norms are
    exact integer aggregates, so the final double is one correctly
    rounded sqrt + divide — bit-identical across engines, which is what
    lets the registered query hash-match a C++ oracle.

    Scale design: only pairs sharing >= 1 term are materialized, so the
    self-join cost is sum(df(term)^2) over the vocabulary, not n^2 —
    and ``max_df`` cuts the stop-terms that dominate that sum (the same
    lever as the Jaccard/containment operators; Bayardo's prefix filter
    is the next refinement when the df distribution is flat).  The cut
    prunes terms from the VECTORS (norms recomputed post-cut), keeping
    cosine a true similarity of the pruned representation.  Docs with
    fewer than ``k`` words have no k-grams and drop out.

    Reference analog: the 60-char-key near-dup distinct at
    ``main.py:283-291`` is the degenerate exact-match case; this is the
    graded-similarity generalization a 100 TB corpus dedup needs.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda w: F.length(w) > 1,
    )
    n = F.size(words)
    m = n - (k - 1)
    zipped = F.arrays_zip(*[F.slice(words, j + 1, m) for j in range(k)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)])
    )
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))
            ).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    if max_df is not None:
        keep = (
            toks.groupBy("term")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("term")
        )
        toks = toks.join(keep, "term")
    # The squared norm rides WITH each posting row (a window over id)
    # instead of living in a separate doc-grain table joined back onto
    # the pair aggregate: the old shape shuffled+sorted the ~1.2M-row
    # pair table TWICE more (Exchange by id_a, then id_b) just to
    # attach two longs that are functionally determined by the pair
    # key.  Grouping by (id_a, id_b, na, nb) gives identical groups
    # (na/nb are constant per id) and removes both joins — the cosine
    # threshold then filters in the same stage as the pair aggregate.
    # Both join sides read toks; one eager localCheckpoint runs the
    # regex shingling + tf shuffle once and leaves no cache entry (at
    # true corpus scale, write this table to Parquet once instead).
    toks = toks.withColumn(
        "nsq", F.sum(F.col("tf") * F.col("tf")).over(Window.partitionBy("id"))
    ).localCheckpoint(eager=True)
    a = toks.select(
        F.col("id").alias("id_a"),
        F.col("tf").alias("tf_a"),
        F.col("nsq").alias("na"),
        "term",
    )
    b = toks.select(
        F.col("id").alias("id_b"),
        F.col("tf").alias("tf_b"),
        F.col("nsq").alias("nb"),
        "term",
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        (F.col("na") * F.col("nb")).cast("double")
    )
    return (
        dots.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _phrase_words(phrase: str) -> list[str]:
    """``phrase`` tokenized as :func:`doc_terms` tokenizes documents."""
    words = [
        w for w in re.split(r"[^a-z0-9]+", phrase.lower())
        if len(w) >= MIN_TOKEN_LEN
    ]
    if not words:
        raise ValueError("phrase has no tokens after normalization")
    return words


def phrase_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrase: str,
) -> DataFrame:
    """Exact phrase matching over a positional inverted index.

    Returns (id, n_matches, first_pos) for documents containing the
    tokenized ``phrase`` as consecutive tokens, ranked by match count.
    This is the positional-index phrase query every search engine runs
    (reference analog: the retrieval layer only has vector search,
    ``vector_store.py:129-162``; phrase lookup is its lexical
    complement alongside BM25).

    Scale shape: the position stream is filtered to the phrase's terms
    AT THE SCAN (an IN-list predicate that pushes into the parquet
    reader via the tokenizer projection), so the k-1 adjacency
    self-joins run over the phrase terms' posting lists — cost ∝ the
    posting-list sizes (Zipf-bounded), never the corpus.  Each join is
    an equi-join on (id, pos±i): co-partitioned after the first
    shuffle, so AQE collapses the chain into one exchange per side.
    """
    words = _phrase_words(phrase)
    pos = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda w: F.length(w) >= MIN_TOKEN_LEN,
            )
        ).alias("pos", "term"),
    ).filter(F.col("term").isin(words))

    anchor = pos.filter(F.col("term") == words[0]).select(
        "id", F.col("pos").alias("p0")
    )
    for i, w in enumerate(words[1:], start=1):
        probe = pos.filter(F.col("term") == w).select(
            "id", (F.col("pos") - i).alias("p0")
        )
        anchor = anchor.join(probe, ["id", "p0"])
    return (
        anchor.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_matches"),
            F.min("p0").cast("long").alias("first_pos"),
        )
    )


def build_positional_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, term) positional postings — the materialized inverted
    index :func:`phrase_search` probes.

    ``phrase_search`` derives this stream inline (re-scanning the corpus
    once per phrase term); at scale you build THIS table once, write it
    partitioned/bucketed by term, and run every phrase query against the
    postings — cost per query ∝ the phrase terms' posting lists, with
    term-partition pruning skipping the rest of the index on disk.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda w: F.length(w) >= MIN_TOKEN_LEN,
            )
        ).alias("pos", "term"),
    )


def phrase_search_indexed(index: DataFrame, phrase: str) -> DataFrame:
    """Phrase query against a prebuilt :func:`build_positional_index`
    table — same adjacency-join semantics as :func:`phrase_search`,
    zero corpus scans."""
    words = _phrase_words(phrase)
    pos = index.filter(F.col("term").isin(words))
    anchor = pos.filter(F.col("term") == words[0]).select(
        "id", F.col("pos").alias("p0")
    )
    for i, w in enumerate(words[1:], start=1):
        probe = pos.filter(F.col("term") == w).select(
            "id", (F.col("pos") - i).alias("p0")
        )
        anchor = anchor.join(probe, ["id", "p0"])
    return anchor.groupBy("id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("p0").cast("long").alias("first_pos"),
    )
