"""Distributed n-gram language-model construction and scoring.

Two operators a 100 TB corpus pipeline needs around its quality stack:

- ``build_vocab``: frequency-cutoff vocabulary with dense contiguous ids
  — the tokenizer-training / feature-hashing precursor (reference
  analog: the corpus stats pass before LoRA data prep,
  ``training/train_lora.py:76-112`` reads the corpus it would feed).
- ``stupid_backoff_scores``: per-document bigram log-score under the
  *stupid backoff* smoothing of Brants et al., "Large Language Models in
  Machine Translation" (EMNLP'07) — the smoothing explicitly designed
  for MapReduce-scale count tables: no discount normalization, so the
  score needs ONLY raw bigram/unigram counts, which is why it
  distributes (Kneser-Ney needs continuation counts per context — a
  second full shuffle — and renormalization):

      S(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1})        if seen
                       = 0.4 · c(w_i) / N                    otherwise

Engine-parity design (mirrored by the DuckDB oracles):

- counts are exact integers from map-side-combined groupBys; doubles
  appear only inside per-position ln() contributions;
- each document folds its contributions in POSITION order on both
  engines (array_sort + ``F.aggregate`` here, ``sum(x ORDER BY pos)``
  in DuckDB) and rounds the final mean to 6 dp, absorbing ln() last-ulp
  differences between libm implementations.

Scale shape:

- tokens are exploded ONCE into a (doc, pos, w1, w2) bigram stream;
- the unigram and bigram count tables are vocab-/bigram-type-sized
  (≪ corpus for natural-language Zipf distributions) and join back via
  AQE broadcast — the corpus-sized stream shuffles only for its final
  per-document aggregate;
- ``build_vocab``'s dense-id window runs on the *vocabulary* table, not
  the corpus: a single-partition sort of |V| rows is driver-safe at any
  corpus scale (|V| grows ~O(corpus^0.5) per Heaps' law).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


MIN_TOKEN_LEN = 2  # lowercase alnum tokens shorter than this are dropped


def _tokens(df: DataFrame, id_col: str, text_col: str):
    """(id, toks array<string>) — lowercase alnum tokens, len >= MIN_TOKEN_LEN."""
    return df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda w: F.length(w) >= MIN_TOKEN_LEN,
        ).alias("toks"),
    )


def build_vocab(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
) -> DataFrame:
    """Frequency-cutoff vocabulary with dense ids.

    Returns (term, c, df_docs, term_id) where ``term_id`` is assigned by
    (count desc, term asc) — the deterministic ordering every tokenizer
    trainer uses, stable across partitionings.

    The global row_number window is over the VOCAB table (post-cutoff),
    not the corpus: |V| rows through one sort — fine on a cluster where
    the corpus itself could never be globally sorted.
    """
    terms = _tokens(df, id_col, text_col).select(
        "id", F.explode("toks").alias("term")
    )
    stats = terms.groupBy("term").agg(
        F.count("*").alias("c"),
        F.countDistinct("id").alias("df_docs"),
    )
    kept = stats.filter(F.col("c") >= min_count)
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    return kept.select(
        "term",
        "c",
        "df_docs",
        F.row_number().over(w).cast("long").alias("term_id"),
    )


def stupid_backoff_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lm_df: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram log-score under stupid backoff.

    Returns (id, n_bigrams, sb_logscore) for documents with >= 1 scored
    bigram; ``sb_logscore`` = round(Σ ln S(w_i|w_{i-1}) / n_bigrams, 6),
    summed in position order.

    ``lm_df`` is the corpus the count tables are built FROM (defaults to
    ``df`` itself — in-corpus self-scoring, the CCNet quality signal at
    bigram order).  Passing a train slice makes held-out documents hit
    the backoff branch exactly like a pretrained count table would; at
    100 TB the count tables hive-partition by first token and the join
    prunes.  Positions whose tokens are OOV under the LM vocabulary are
    excluded from scoring (inner join on both unigram probes) — the
    count-table analog of an OOV cutoff.
    """
    toks = _tokens(df, id_col, text_col)
    # the LM slice feeds BOTH count tables (uni and bi) — materialize
    # its tokenization once instead of running the regexp split per
    # consumer; token arrays spill to executor disk when they outgrow
    # storage memory, which beats two full tokenize passes at any scale
    lm_toks = (
        toks
        if lm_df is None
        else _tokens(lm_df, id_col, text_col).localCheckpoint(
            eager=True
        )
    )
    # (doc, pos, w1, w2) bigram stream — one explode, no join to rebuild
    # adjacency: slice+zip pairs neighbors inside the token array.
    bigrams = toks.select(
        "id",
        F.posexplode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks)-1, 0)),"
                " (w, i) -> struct(w AS w1, toks[i+1] AS w2))"
            )
        ).alias("pos", "bg"),
    ).select("id", "pos", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))

    # three consumers (the N-total scalar + two unigram probes) and the
    # n_total collect() would otherwise run the tokenize+count subtree
    # as its own job, then the main job would rebuild it from scratch —
    # materialize the vocabulary table once; AQE then also sees its
    # true (broadcast-size) row count instead of a blind estimate
    uni = (
        lm_toks.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c_uni"))
        .localCheckpoint(eager=True)
    )
    n_total = uni.agg(F.sum("c_uni")).collect()[0][0]  # exact-long scalar
    if not n_total:
        return bigrams.select(
            "id",
            F.lit(0).cast("long").alias("n_bigrams"),
            F.lit(0.0).alias("sb_logscore"),
        ).limit(0)
    lm_bigrams = lm_toks.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, greatest(size(toks)-1, 0)),"
                " (w, i) -> struct(w AS w1, toks[i+1] AS w2))"
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bi = lm_bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c_bi"))

    # ln S per position: bigram path ln(c_bi/c_prev); NULL c_bi (bigram
    # unseen by the LM corpus) takes the backoff path ln(0.4·c_cur/N).
    scored = (
        bigrams.join(bi, ["w1", "w2"], "left")
        .join(uni.select(F.col("term").alias("w1"), F.col("c_uni").alias("c_prev")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("c_uni").alias("c_cur")), "w2")
        .select(
            "id",
            "pos",
            F.when(
                F.col("c_bi").isNotNull(),
                F.log(F.col("c_bi") / F.col("c_prev")),
            )
            .otherwise(
                F.lit(math.log(0.4))
                + F.log(F.col("c_cur") / F.lit(float(n_total)))
            )
            .alias("contrib"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.array_sort(F.collect_list(F.struct("pos", "contrib"))).alias("cs"),
        )
        .select(
            "id",
            "n_bigrams",
            F.round(
                F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["contrib"])
                / F.col("n_bigrams"),
                6,
            ).alias("sb_logscore"),
        )
    )


def merge_vocab_counts(
    old_counts: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
) -> DataFrame:
    """Fold a NEW document batch into an existing vocabulary count table
    — the monthly-growth form of :func:`build_vocab` (same shape as
    connected_components_incremental / minhash_incremental_pairs: cost
    ∝ batch + |V|, never the historical corpus).

    ``old_counts``: a prior (term, c, df_docs, ...) table (extra
    columns like term_id are ignored — ids are REASSIGNED, since counts
    change global order).  Token counts are additive and doc-frequency
    counts are additive when batches are disjoint by document, so the
    merge is one vocab-sized unionByName + groupBy; the min_count
    cutoff re-applies AFTER merging (a term sub-threshold in every
    batch can clear it cumulatively).  Equivalence with a full rebuild
    is asserted in tests.
    """
    batch = (
        _tokens(new_docs, id_col, text_col)
        .select("id", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"), F.countDistinct("id").alias("df_docs"))
    )
    merged = (
        old_counts.select("term", "c", "df_docs")
        .unionByName(batch)
        .groupBy("term")
        .agg(F.sum("c").alias("c"), F.sum("df_docs").alias("df_docs"))
    )
    kept = merged.filter(F.col("c") >= min_count)
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    return kept.select(
        "term", "c", "df_docs",
        F.row_number().over(w).cast("long").alias("term_id"),
    )
