"""DSIR-style importance weighting: unigram log-likelihood ratio between
a target distribution and the raw corpus (Xie et al., "Data Selection
for Language Models via Importance Resampling", NeurIPS'23 — public
method; the hashed-ngram variant reduces to this unigram form when the
feature map is the identity).

A training-data pipeline uses these weights to resample a huge raw crawl
toward a smaller high-quality target domain.  Per document:

    w(d) = (1/|d|) · Σ_{t ∈ d} [ ln p_tgt(t) − ln p_raw(t) ]

with add-1 smoothing over the raw vocabulary V (target ⊆ raw, so V is
shared): p(t) = (cnt(t)+1)/(tot+V).

Engine-parity design (mirrored by the DuckDB oracle):

- ONE token pass: groupBy(term) with a conditional sum produces raw and
  target counts together; V / tot_raw / tot_tgt are exact-long driver
  scalars from a 1-row agg.
- The per-doc sum is over (term, tf) structs sorted by term and folded
  left with ``F.aggregate`` — a FIXED float-addition order, so results
  are identical across partitionings and match the oracle's
  ``sum(x ORDER BY term)``.  ln() last-ulp noise is absorbed by the
  6-dp rounding of the final mean (no ranking happens on this value).

Scale: tokens move once into the (doc, term) tf aggregate; the term
stats table is term-level (AQE broadcasts it back); per-doc arrays hold
distinct terms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_TOKEN_LEN = 2  # lowercase alnum tokens shorter than this are dropped

# hashed_linear_score's feature space: md5-hex term index mod this
HASHED_DIM = 4096

def dsir_importance(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
) -> DataFrame:
    """Per-document importance weight ln p_tgt/p_raw, averaged per token.

    ``target_col``: boolean column marking target-domain documents.
    Returns (id, dl, dsir_weight) for every document with ≥1 token.
    """
    # tokens carry the target flag from the scan — no corpus-sized
    # join-back of tokens to documents
    terms = df.select(
        F.col(id_col).alias("id"),
        F.col(target_col).cast("long").alias("__is_tgt"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda w: F.length(w) >= MIN_TOKEN_LEN,
            )
        ).alias("term"),
    )

    # (id, term) tf FIRST, materialized once: the token explode (regex
    # split over full text) used to run twice — once under the vocab
    # aggregation and again under the tf aggregation.  The vocab stats
    # derive from tf exactly (c_raw = Σ tf, c_tgt = Σ tf·is_tgt), so
    # one explode feeds both; the corpus-wide scalars ride the stats
    # checkpoint's materializing job via observe() instead of a
    # separate collect scan.
    from pyspark.sql import Observation

    tf = (
        terms.groupBy("id", "__is_tgt", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    obs = Observation()
    stats = (
        tf.groupBy("term")
        .agg(
            F.sum("tf").alias("c_raw"),
            F.sum(F.col("tf") * F.col("__is_tgt")).alias("c_tgt"),
        )
        .observe(
            obs,
            F.count(F.lit(1)).alias("v"),
            F.sum("c_raw").alias("tot_raw"),
            F.sum("c_tgt").alias("tot_tgt"),
        )
        # checkpoint: two consumers, and the known (tiny) size lets
        # AQE broadcast the contrib join
        .localCheckpoint(eager=True)
    )
    tot = obs.get
    v, tot_raw, tot_tgt = tot["v"], tot["tot_raw"], tot["tot_tgt"]
    if not v:
        # empty corpus: schema-correct empty result (empty-input sweep)
        return terms.select(
            "id",
            F.lit(0).cast("long").alias("dl"),
            F.lit(0.0).alias("dsir_weight"),
        ).limit(0)

    lr = F.log((F.col("c_tgt") + 1.0) / F.lit(float(tot_tgt + v))) - F.log(
        (F.col("c_raw") + 1.0) / F.lit(float(tot_raw + v))
    )
    contrib = tf.join(stats, "term").select(
        "id", "term", "tf", (F.col("tf") * lr).alias("contrib")
    )
    return (
        contrib.groupBy("id")
        .agg(
            F.sum("tf").alias("dl"),
            F.array_sort(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
        )
        .select(
            "id",
            "dl",
            F.round(
                F.aggregate(
                    "cs", F.lit(0.0), lambda acc, x: acc + x["contrib"]
                )
                / F.col("dl"),
                6,
            ).alias("dsir_weight"),
        )
    )


def unigram_log_ppl(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document unigram log-perplexity against an in-corpus LM —
    the CCNet-style quality signal (Wenzek et al., LREC'20 score docs
    with a KenLM perplexity and keep the low-perplexity head; an
    in-corpus unigram LM is the self-contained analog, and the ``stats``
    table below is the seam where a broadcast table of pretrained
    log-probs would plug in).

        logppl(d) = −(1/|d|) · Σ_{t ∈ d} tf(t)·ln p(t),
        p(t) = (cnt(t)+1)/(tot+V)   (add-1 over the corpus vocabulary)

    Lower = more typical of the corpus.  Engine parity exactly as
    :func:`dsir_importance`: one token pass, exact-long driver scalars,
    per-doc sums folded in sorted term order, 6-dp rounding.
    Returns (id, dl, logppl).
    """
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda w: F.length(w) >= MIN_TOKEN_LEN,
            )
        ).alias("term"),
    )
    # (id, term) tf first, one explode for both aggregations; corpus
    # scalars ride the stats checkpoint via observe() — see
    # dsir_importance above for the rationale
    from pyspark.sql import Observation

    tf = (
        terms.groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    obs = Observation()
    stats = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("c"))
        .observe(
            obs, F.count(F.lit(1)).alias("v"), F.sum("c").alias("tot")
        )
        .localCheckpoint(eager=True)
    )
    tot = obs.get
    v, tot_raw = tot["v"], tot["tot"]
    if not v:
        return terms.select(
            "id",
            F.lit(0).cast("long").alias("dl"),
            F.lit(0.0).alias("logppl"),
        ).limit(0)
    logp = F.log((F.col("c") + 1.0) / F.lit(float(tot_raw + v)))
    contrib = tf.join(stats, "term").select(
        "id", "term", "tf", (F.col("tf") * logp).alias("contrib")
    )
    return (
        contrib.groupBy("id")
        .agg(
            F.sum("tf").alias("dl"),
            F.array_sort(F.collect_list(F.struct("term", "contrib"))).alias("cs"),
        )
        .select(
            "id",
            "dl",
            F.round(
                -F.aggregate("cs", F.lit(0.0), lambda acc, x: acc + x["contrib"])
                / F.col("dl"),
                6,
            ).alias("logppl"),
        )
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[float] | None = None,
) -> DataFrame:
    """fastText-style linear quality classifier over hashing-trick
    unigram features — the shape of the DataComp/RedPajama quality
    filters (Joulin et al. 2016: bag of hashed n-grams → linear layer
    → sigmoid), as a pure Column pipeline.

        idx(t) = int(md5(t)[:4 hex], 16) mod HASHED_DIM
        score(d) = sigmoid( mean_t w[idx(t)] )

    ``weights`` is the trained-model seam: a real fastText/logistic
    weight vector rides as ONE array literal (element_at is O(1) per
    token, whole-stage codegen — no Python at scan time).  When absent,
    deterministic pseudo-weights w = idx/HASHED_DIM − 0.5 exercise the
    identical plumbing.  md5-hex indexing (not xxhash64) keeps the
    featurizer DuckDB-expressible, and the per-doc mean folds in sorted
    term order — the engine-parity recipe shared with DSIR/log-ppl.

    Returns (id, dl, score).
    """
    terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda w: F.length(w) >= MIN_TOKEN_LEN,
            )
        ).alias("term"),
    )
    idx = F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("long"),
        F.lit(HASHED_DIM),
    )
    if weights is None:
        w = idx / F.lit(float(HASHED_DIM)) - F.lit(0.5)
    else:
        if len(weights) != HASHED_DIM:
            raise ValueError(f"weights must have length {HASHED_DIM}")
        from knowledge_model_spark.functions.vectors import double_array_lit

        w = F.element_at(double_array_lit(weights), (idx + 1).cast("int"))
    scored = terms.select("id", "term", w.alias("w"))
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").alias("dl"),
            F.array_sort(F.collect_list(F.struct("term", "w"))).alias("cs"),
        )
        .select(
            "id",
            "dl",
            F.round(
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.aggregate(
                                "cs", F.lit(0.0), lambda acc, x: acc + x["w"]
                            )
                            / F.col("dl")
                        )
                    )
                ),
                6,
            ).alias("score"),
        )
    )
