"""Training-data pipeline queries (north-star extensions, oracle-checked).

Operators a 100 TB LLM-training corpus pipeline needs beyond the
reference's surface: deterministic content-addressed train/val/test
splitting, training-sequence packing, and document key-term scoring.
All are pure relational compositions with exact DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knowledge_model_spark.functions.text_analysis import token_count
from knowledge_model_spark.operators.ordering import (
    grid_global_row_number,
    grid_global_running_sum,
)
from knowledge_model_spark.plans import register
from knowledge_model_spark.session import load_tables

SEQ_LEN = 256  # tokens per packed training sequence
PACK_GROUPS = 32  # packing parallelism (see pack_training_sequences doc)


@register(
    "sample_train_split",
    """
    WITH tagged AS (
      SELECT lang,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                    THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, count(*) AS n_docs
    FROM tagged GROUP BY split, lang
    """,
    doc="deterministic ~80/10/10 train/val/test split by md5(doc_id) prefix "
    "— content-addressed, so membership is stable across runs, cluster "
    "sizes, and incremental corpus additions (no global shuffle, no RNG "
    "state; the property random_split lacks at scale)",
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        t["documents"]
        .select("lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "pack_training_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, doc_id % {PACK_GROUPS} AS grp,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> len(w) > 0)) AS n_tok
      FROM documents
    ),
    walked AS (
      SELECT grp, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS before
      FROM toks
    )
    SELECT grp, CAST(before // {SEQ_LEN} AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM walked GROUP BY grp, before // {SEQ_LEN}
    """,
    doc=f"training-sequence packing: documents fill {SEQ_LEN}-token sequences "
    f"by running-sum offset, independently within {PACK_GROUPS} deterministic "
    "groups (doc_id mod N) — per-group windows keep the sort local, so no "
    "global-order window (the single-partition scale-killer) exists in the "
    "plan; the group count is the packing parallelism knob at 100 TB",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = t["documents_spread"].select(
        "doc_id",
        (F.col("doc_id") % PACK_GROUPS).alias("grp"),
        token_count(F.col("text")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walked = toks.withColumn("before", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        walked.groupBy("grp", (F.col("before") / SEQ_LEN).cast("long").alias("seq_id"))
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").cast("long").alias("n_tokens"))
    )


@register(
    "text_top_terms",
    """
    WITH terms AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf / CAST(df.df AS DOUBLE) AS score
      FROM tf JOIN df USING (term)
    )
    SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(score, 6) AS score, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rnk FROM scored)
    WHERE rnk <= 3
    """,
    doc="top-3 distinguishing terms per document by rarity-normalized "
    "frequency tf/df — the exact-rational cousin of TF-IDF (log-IDF "
    "variant lives in pytest: ln() may differ in the last ulp across "
    "engines, which would make an oracle rank-unstable); df side is a "
    "broadcastable aggregate, tf is one shuffle on (doc, term)",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    terms = t["documents_spread"].select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z0-9]+"), lambda w: F.length(w) > 1
            )
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # r11 (guide §2.3/§2.4): df DERIVES from tf — document frequency =
    # number of (doc, term) groups per term — as a window over the tf
    # table, so the regex-split explode runs ONCE (the old shape
    # re-exploded the corpus under the countDistinct aggregate) and the
    # tf⋈df join disappears.  Identical df per row by definition.
    scored = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).withColumn("score", F.col("tf") / F.col("df").cast("double"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("score", 6).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "corpus_token_drift",
    """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    oldc AS (SELECT term, count(*) AS cnt_old FROM tok WHERE doc_id % 2 = 0 GROUP BY term),
    newc AS (SELECT term, count(*) AS cnt_new FROM tok GROUP BY term),
    tot AS (
      SELECT (SELECT coalesce(sum(cnt_old), 0) FROM oldc) AS total_old,
             (SELECT coalesce(sum(cnt_new), 0) FROM newc) AS total_new
    )
    SELECT coalesce(o.term, n.term) AS term,
           CAST(coalesce(o.cnt_old, 0) AS BIGINT) AS cnt_old,
           CAST(coalesce(n.cnt_new, 0) AS BIGINT) AS cnt_new,
           CAST(t.total_old AS BIGINT) AS total_old,
           CAST(t.total_new AS BIGINT) AS total_new,
           round(coalesce(n.cnt_new, 0) / CAST(greatest(t.total_new, 1) AS DOUBLE)
                 - coalesce(o.cnt_old, 0) / CAST(greatest(t.total_old, 1) AS DOUBLE),
                 9) AS freq_shift
    FROM oldc o FULL OUTER JOIN newc n ON o.term = n.term, tot t
    WHERE coalesce(o.cnt_old, 0) >= 5 OR coalesce(n.cnt_new, 0) >= 5
    """,
    doc="token-distribution drift between two corpus snapshots (ingest "
    "monitoring for a continuously-fed pipeline; old = even doc_ids, new "
    "= full corpus): exact occurrence counts + snapshot totals as longs, "
    "rounded relative-frequency shift — one combiner groupBy per "
    "snapshot, full outer join on token, totals broadcast as literals "
    "(operators/text_rank.py token_drift)",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.text_rank import token_drift

    t = load_tables(spark, sf_dir)
    d = t["documents"]
    return token_drift(
        d.filter(F.col("doc_id") % 2 == 0), d, "doc_id", "text", min_count=5
    )


@register(
    "sample_hard_negatives",
    """
    WITH dims AS (SELECT label, generate_subscripts(embedding, 1) AS d,
                         unnest(embedding) AS v
                  FROM embeddings),
    cents AS (SELECT label AS query_id, list(m ORDER BY d) AS qv
              FROM (SELECT label, d, avg(v) AS m FROM dims GROUP BY label, d)
              GROUP BY label),
    scored AS (SELECT c.query_id, e.vec_id,
                      round(list_cosine_similarity(c.qv, e.embedding), 6) AS score
               FROM embeddings e CROSS JOIN cents c
               WHERE e.label <> c.query_id)
    SELECT query_id, vec_id, score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    doc="hard-negative mining (DPR-style): per label centroid, the 5 "
    "highest-cosine vectors with a DIFFERENT label — wrong-label filter "
    "applied before ranking so near-miss negatives buried under "
    "same-label positives still surface; broadcast centroid batch × one "
    "corpus scan, per-query WindowGroupLimit top-k",
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.similarity import hard_negatives
    from knowledge_model_spark.plans.retrieval_queries import _centroid_queries

    t = load_tables(spark, sf_dir)
    out = hard_negatives(
        t["embeddings"], _centroid_queries(t),
        corpus_id="vec_id", corpus_vec="embedding", corpus_label="label",
        query_id="query_id", query_vec="qv", k=5,
    )
    return out.select(
        F.col("query_id").cast("int").alias("query_id"),
        "vec_id", "score", F.col("rank").cast("long").alias("rank"),
    )


@register(
    "sample_weighted_priority",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                            AS BIGINT) + 1) / 4503599627370496.0)
                   / greatest(n_chars, 1), 9) AS es_key
      FROM documents
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, es_key,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY es_key DESC, doc_id) AS rnk
          FROM keyed)
    WHERE rnk <= 50
    """,
    doc="deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis A-ES): 50 docs with inclusion probability ∝ n_chars via "
    "content-addressed exact-dyadic u and ln(u)/w priority keys — the "
    "length-weighted subset selection a token-budgeted pipeline draws "
    "reproducibly; scan-speed keys + TakeOrderedAndProject, no shuffle",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import weighted_sample_topk

    t = load_tables(spark, sf_dir)
    out = weighted_sample_topk(t["documents"], "doc_id", "n_chars", k=50)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        "es_key",
        F.col("rnk").cast("long").alias("rnk"),
    )


@register(
    "sample_kfold_assign",
    """
    WITH folds AS (
      SELECT doc_id, lang,
             (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
              + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 5
               AS fold
      FROM documents
    )
    SELECT fold, lang, count(*) AS n_docs, min(doc_id) AS min_doc
    FROM folds GROUP BY fold, lang
    """,
    doc="k-fold cross-validation assignment (k=5), content-addressed like "
    "every sampler here: fold = md5-derived bytes mod k, so membership "
    "is stable under repartitioning and corpus growth; a scan-speed "
    "projection (no shuffle beyond the report aggregation)",
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    fold = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 5
    return (
        t["documents"]
        .select("doc_id", "lang", fold.alias("fold"))
        .groupBy("fold", "lang")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


@register(
    "sample_group_holdout",
    """
    WITH tagged AS (
      SELECT source, n_chars,
             CASE WHEN substring(md5(source), 1, 2) < 'cc' THEN 'train'
                  WHEN substring(md5(source), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(DISTINCT source) AS n_groups, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY split
    """,
    doc="group-aware holdout: the md5 split key is the GROUP (source), not "
    "the document, so same-source near-duplicates (shared boilerplate, "
    "re-crawls) can never straddle train/test — the leakage mode a "
    "per-document split invites and dedup alone cannot close; same "
    "content-addressed determinism as sample_train_split (no RNG state, "
    "stable under corpus growth and repartitioning)",
)
def sample_group_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    h = F.substring(F.md5(F.col("source")), 1, 2)
    split = F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    return (
        t["documents"]
        .select("source", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_groups"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# -------------------------------------------- target-mixture quota sample

# Target domain weights for the mixing quota — in production the output
# of a mixture-optimization run (DoReMi-style weights); literal here so
# the oracle shares it.  Sources absent from the map get weight 0.
_MIX_TARGET = {"src0": 0.30, "src1": 0.25, "src2": 0.20, "src3": 0.15, "src4": 0.10}
_MIX_BUDGET = 120  # total documents to draw


@register(
    "sample_target_mixture",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
      WHERE source IN {tuple(_MIX_TARGET)}
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM ranked
    WHERE rk <= CASE source
      {' '.join(f"WHEN '{s}' THEN {int(_MIX_BUDGET * w)}" for s, w in _MIX_TARGET.items())}
      ELSE 0 END
    """,
    doc="Exact target-mixture sampling: draw floor(budget·w_s) documents "
    "per source to hit prescribed domain weights (the deterministic "
    "quota complement to sample_mixture_temperature's rate-based "
    "re-weighting — use quotas when the recipe fixes proportions, "
    "rates when it fixes acceptance probabilities). Priority inside "
    "each source is md5(doc_id) — content-addressed, so the drawn set "
    "is stable across runs, partitionings, and corpus growth (a new "
    "doc displaces at most one other). ONE source-key shuffle for the "
    "row_number window; quotas are a literal CASE, no join.",
)
def sample_target_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    quota = F.create_map(
        *[
            x
            for s, w in _MIX_TARGET.items()
            for x in (F.lit(s), F.lit(int(_MIX_BUDGET * w)))
        ]
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    # literal bound FIRST: a foldable rk <= max-quota conjunct lets
    # InferWindowGroupLimit prune every window partition to max-quota
    # rows MAP-SIDE — without it the dynamic per-source quota filter
    # alone forces a full per-source sort in one task (sources are few,
    # so a partition is corpus/k rows)
    max_quota = max(int(_MIX_BUDGET * wgt) for wgt in _MIX_TARGET.values())
    return (
        t["documents"]
        .filter(F.col("source").isin(*_MIX_TARGET))
        .select("doc_id", "source", F.row_number().over(w).cast("long").alias("rk"))
        .filter(
            (F.col("rk") <= F.lit(max_quota))
            & (
                F.col("rk")
                <= F.coalesce(F.element_at(quota, F.col("source")), F.lit(0))
            )
        )
    )


# ---------------------------------------- length-bucketed batch packing

_BATCH_DOCS = 16  # sequences per inference/training batch


@register(
    "training_length_batching",
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
               AS n_tok
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, n_tok,
             CAST(floor((row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1)
                        / {_BATCH_DOCS}) AS BIGINT) AS batch_id
      FROM lens
    )
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste,
           round(sum(n_tok) / CAST(count(*) * max(n_tok) AS DOUBLE), 6)
             AS efficiency
    FROM ordered GROUP BY batch_id
    """,
    doc="Length-bucketed batch assignment (the padding-minimizing "
    "batching every padded-tensor training/inference stack needs — "
    "sorting by length before batching is what dynamic batching / "
    "vLLM-style bucketing formalize): docs ordered by token count "
    "descending, fixed-size batches of 16, per-batch padding waste "
    "= n·max − Σlen and efficiency = Σlen / (n·max). The global "
    "numbering is grid-decomposed (operators/ordering.py): n_tok is "
    "its own monotone grid, offsets come from a token-count-bounded "
    "table, and raw rows only ever see a hash-partitioned window — "
    "no corpus-sized single-partition funnel (plan-guarded). The "
    "efficiency win vs unsorted batching is asserted in tests.",
)
def training_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    n_tok = F.size(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")),
            " ",
        )
    )
    lens = t["documents"].select("doc_id", n_tok.alias("n_tok"))
    # grid-decomposed global numbering: n_tok itself is the monotone
    # grid (bounded by distinct token counts), so no corpus-sized
    # single-partition window exists anywhere in this plan
    numbered = grid_global_row_number(
        lens,
        F.col("n_tok"),
        [F.col("n_tok").desc(), "doc_id"],
        grid_asc=False,
        out="_rn",
    )
    ordered = numbered.select(
        "doc_id",
        "n_tok",
        F.floor((F.col("_rn") - 1) / _BATCH_DOCS)
        .cast("long")
        .alias("batch_id"),
    )
    return ordered.groupBy("batch_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("n_tok").cast("long").alias("max_tok"),
        F.sum("n_tok").cast("long").alias("sum_tok"),
        (F.count("*") * F.max("n_tok") - F.sum("n_tok"))
        .cast("long")
        .alias("pad_waste"),
        F.round(
            F.sum("n_tok") / (F.count("*") * F.max("n_tok")).cast("double"), 6
        ).alias("efficiency"),
    )


# ------------------------------------------------ span-corruption pairs

@register(
    "training_span_corruption",
    """
    WITH tok AS (
      SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) - 1 AS pos
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
            FROM documents WHERE doc_id % 5 = 0) d
    ),
    blocks AS (
      SELECT doc_id, CAST(floor(pos / 5) AS BIGINT) AS blk,
             string_agg(tok, ' ' ORDER BY pos) AS btext,
             count(*) AS nt
      FROM tok GROUP BY doc_id, CAST(floor(pos / 5) AS BIGINT)
    ),
    marked AS (
      SELECT doc_id, blk, btext, nt,
             substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)), 1, 1)
               IN ('0', '1', '2') AS sel
      FROM blocks
    ),
    numbered AS (
      SELECT doc_id, blk, btext, nt, sel,
             sum(CASE WHEN sel THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY blk
                     ROWS UNBOUNDED PRECEDING) - 1 AS k
      FROM marked
    )
    SELECT doc_id,
           string_agg(CASE WHEN sel THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
                           ELSE btext END, ' ' ORDER BY blk) AS input_text,
           coalesce(string_agg(CASE WHEN sel THEN
                      '<extra_id_' || CAST(k AS VARCHAR) || '> ' || btext END,
                      ' ' ORDER BY blk) FILTER (WHERE sel), '') AS target_text,
           CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           round(sum(CASE WHEN sel THEN nt ELSE 0 END)
                 / CAST(sum(nt) AS DOUBLE), 6) AS corruption_ratio
    FROM numbered
    GROUP BY doc_id
    """,
    doc="T5/UL2-style span corruption pair generation (Raffel et al. "
    "2020 §3.1.4): 5-token blocks, ~19% selected by a content-"
    "addressed coin (first md5(doc_id:block) nibble < 3), selected "
    "spans replaced by numbered sentinels in the input and emitted "
    "after their sentinel in the target. Content-addressing makes the "
    "corruption pattern a pure function of the data — reproducible "
    "across runs, partitionings, and epochs without RNG state, and "
    "the oracle derives the identical pattern. Shape: posexplode → "
    "ONE (doc,block) shuffle → per-doc ordered re-assembly via "
    "sort_array(collect_list(struct)) (the engine-safe ordered-agg "
    "idiom); all string work is codegen expressions.",
)
def training_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
                ),
                " ",
            )
        ).alias("pos", "tok"),
    )
    blocks = (
        tok.groupBy("doc_id", F.floor(F.col("pos") / 5).cast("long").alias("blk"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("btext"),
            F.count("*").alias("nt"),
        )
    )
    sel = F.substring(
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("blk").cast("string")
            )
        ),
        1,
        1,
    ).isin("0", "1", "2")
    w = Window.partitionBy("doc_id").orderBy("blk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = blocks.withColumn("sel", sel).withColumn(
        "k", F.sum(F.when(F.col("sel"), 1).otherwise(0)).over(w) - 1
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">"))
    piece = F.when(F.col("sel"), sentinel).otherwise(F.col("btext"))
    tpiece = F.when(F.col("sel"), F.concat(sentinel, F.lit(" "), F.col("btext")))
    return (
        numbered.select(
            "doc_id", "blk", "nt", "sel", piece.alias("piece"), tpiece.alias("tpiece")
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("blk", "piece"))),
                    lambda x: x["piece"],
                ),
                " ",
            ).alias("input_text"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("sel"), F.struct("blk", "tpiece"))
                        )
                    ),
                    lambda x: x["tpiece"],
                ),
                " ",
            ).alias("target_text"),
            F.sum(F.when(F.col("sel"), 1).otherwise(0))
            .cast("long")
            .alias("n_spans"),
            F.round(
                F.sum(F.when(F.col("sel"), F.col("nt")).otherwise(0))
                / F.sum("nt").cast("double"),
                6,
            ).alias("corruption_ratio"),
        )
    )


# ------------------------------------------- budget-constrained selection

_SELECT_TOKEN_BUDGET = 4000


@register(
    "sample_quality_budget",
    f"""
    WITH scored AS (
      SELECT doc_id,
             len(tk) AS n_tok,
             len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE) AS density
      FROM (SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text),
                     '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
            FROM documents) d
      WHERE len(tk) > 0
    ),
    ranked AS (
      SELECT doc_id, n_tok, density,
             sum(n_tok) OVER (ORDER BY density DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM scored
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           round(density, 6) AS density, CAST(cum_tok AS BIGINT) AS cum_tok
    FROM ranked WHERE cum_tok <= {_SELECT_TOKEN_BUDGET}
    """,
    doc="Budget-constrained data selection (the DsDm/QuRating-family "
    "shape: spend a fixed token budget on the highest-value docs): "
    "rank by lexical-diversity density (distinct/total tokens — an "
    "exact rational, so the ordering can't flip cross-engine), take "
    "greedily until the cumulative token budget is spent. The running "
    "sum is grid-decomposed (operators/ordering.py): density "
    "quantized to 4096 buckets forms the monotone grid, per-bucket "
    "token totals give exclusive offsets over a ≤4097-row table, and "
    "raw rows only see a hash-partitioned within-bucket window — no "
    "corpus-sized single-partition funnel (plan-guarded); the budget "
    "cut is a post-window filter, no driver loop. Swap the density "
    "expression for any model-based "
    "quality score (quality_classifier_score / quality_unigram_logppl "
    "are drop-in) — the selection machinery is score-agnostic.",
)
def sample_quality_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tk = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "
    )
    scored = (
        t["documents"]
        .select(
            "doc_id",
            F.size(tk).alias("n_tok"),
            (F.size(F.array_distinct(tk)) / F.size(tk).cast("double")).alias(
                "density"
            ),
        )
        .filter(F.col("n_tok") > 0)
    )
    # density ∈ (0, 1]: floor(density·4096) is monotone in the sort
    # order and bounded at 4097 buckets, so the only unpartitioned
    # window in this plan runs over the bucket-level totals table
    cum = grid_global_running_sum(
        scored,
        F.floor(F.col("density") * 4096).cast("long"),
        [F.col("density").desc(), "doc_id"],
        F.col("n_tok").cast("long"),
        grid_asc=False,
        out="cum_tok",
    )
    return (
        cum.filter(F.col("cum_tok") <= _SELECT_TOKEN_BUDGET)
        .select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.round("density", 6).alias("density"),
            F.col("cum_tok").cast("long").alias("cum_tok"),
        )
    )


@register(
    "training_chat_render",
    """
    WITH turns AS (
      SELECT CAST(doc_id // 2 AS BIGINT) AS conv, doc_id AS ord,
             '<|user|>' || chr(10) || 'Describe document ' ||
               CAST(doc_id AS VARCHAR) || ' from ' || source || '.' ||
               chr(10) || '<|assistant|>' || chr(10) || text || chr(10)
               AS turn_txt,
             len('<|user|>' || chr(10)) +
               len('Describe document ' || CAST(doc_id AS VARCHAR) ||
                   ' from ' || source || '.') +
               len(chr(10) || '<|assistant|>' || chr(10)) AS user_seg_len,
             len(text) AS asst_len
      FROM documents
    ),
    off AS (
      SELECT conv, ord, turn_txt, asst_len,
             len('<|system|>' || chr(10) || 'You are a helpful assistant.'
                 || chr(10))
             + coalesce(sum(len(turn_txt)) OVER (
                 PARTITION BY conv ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + user_seg_len AS s
      FROM turns
    )
    SELECT conv, CAST(count(*) AS BIGINT) AS n_turns,
           '<|system|>' || chr(10) || 'You are a helpful assistant.' ||
             chr(10) || string_agg(turn_txt, '' ORDER BY ord) AS rendered,
           string_agg(CAST(s AS VARCHAR) || ':' ||
                      CAST(s + asst_len AS VARCHAR), ';' ORDER BY ord)
             AS asst_spans
    FROM off GROUP BY conv
    """,
    doc="SFT chat-template rendering with assistant loss-mask spans: "
    "pairs of consecutive documents become 2-turn conversations; "
    "offsets are pure length arithmetic riding the SAME conv-key "
    "Exchange as the final assembly (no UDF, no second text pass); "
    "spans emit as 'start:end;start:end' scalars — canonicalizer-safe "
    "(functions/prompting.py::render_chat_with_spans)",
)
def training_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.prompting import render_chat_with_spans

    t = load_tables(spark, sf_dir)
    turns = t["documents_spread"].select(
        F.expr("doc_id div 2").cast("long").alias("conv_id"),
        F.col("doc_id").alias("ord"),
        F.concat(
            F.lit("Describe document "),
            F.col("doc_id").cast("string"),
            F.lit(" from "),
            F.col("source"),
            F.lit("."),
        ).alias("user_msg"),
        F.col("text").alias("asst_msg"),
    )
    out = render_chat_with_spans(turns, "conv_id", "ord", "user_msg", "asst_msg")
    return out.select(
        F.col("conv").alias("conv"), "n_turns", "rendered", "asst_spans"
    )


@register(
    "training_preference_pairs",
    """
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             (max({'s': n_chars, 'i': doc_id})).i AS chosen_id,
             (max({'s': n_chars, 'i': doc_id})).s AS chosen_chars,
             (min({'s': n_chars, 'i': doc_id})).i AS rejected_id,
             (min({'s': n_chars, 'i': doc_id})).s AS rejected_chars
      FROM documents GROUP BY lang, source HAVING count(*) >= 2
    )
    SELECT lang, source, n_docs,
           'Write a ' || lang || ' document for ' || source || '.' AS prompt,
           chosen_id, rejected_id,
           CAST(chosen_chars - rejected_chars AS BIGINT) AS len_margin
    FROM g
    """,
    doc="DPO/RLHF preference-pair construction: per (lang, source) "
    "stratum the longest document is 'chosen' and the shortest "
    "'rejected' (the deterministic stand-in for a reward score — the "
    "struct ordering key (score, id) is the drop-in seam); ONE "
    "map-side-combinable hash agg via struct min/max — no window, no "
    "join, no second shuffle",
)
def training_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    key = F.struct(F.col("n_chars").alias("s"), F.col("doc_id").alias("i"))
    g = (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max(key).alias("b"),
            F.min(key).alias("w"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return g.select(
        "lang",
        "source",
        "n_docs",
        F.concat(
            F.lit("Write a "), F.col("lang"), F.lit(" document for "),
            F.col("source"), F.lit("."),
        ).alias("prompt"),
        F.col("b.i").alias("chosen_id"),
        F.col("w.i").alias("rejected_id"),
        (F.col("b.s") - F.col("w.s")).cast("long").alias("len_margin"),
    )


@register(
    "sample_time_split",
    """
    WITH x AS (
      SELECT event_id, ts,
             row_number() OVER (ORDER BY ts, event_id) AS rn,
             count(*) OVER () AS n
      FROM events
    ),
    labeled AS (
      SELECT event_id, ts,
             CASE WHEN rn <= CAST(floor(n * 0.8) AS BIGINT)
                  THEN 'train' ELSE 'test' END AS split
      FROM x
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_us
    FROM labeled GROUP BY split
    """,
    doc="temporal 80/20 split (train strictly precedes test in event "
    "time — the leakage-safe split for anything with temporal "
    "structure, where the md5 content-addressed splits of "
    "sample_train_split would let the future leak into training); "
    "the boundary is the exact 80th order statistic under the total "
    "(ts, id) order, so the cut is partition-invariant; the order "
    "statistic is grid-decomposed (operators/ordering.py): per-day "
    "event counts give exclusive offsets over a days-bounded table, "
    "raw events only see a hash-partitioned within-day window — the "
    "exact-at-scale form of the approx-percentile cutover — and the "
    "per-split min/max audit proves train.max <= test.min.  The cutoff "
    "n*0.8 derives IN-PLAN from the same grid-count aggregate that "
    "builds the offsets (out_total — zero extra scans); an earlier "
    "form ran an eager x.count() at plan-build time, a whole second "
    "corpus scan per invocation",
)
def sample_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    x = t["events"].select("event_id", "ts")
    numbered = grid_global_row_number(
        x,
        F.date_trunc("day", F.col("ts")),
        ["ts", "event_id"],
        out="rn",
        out_total="__n",
    )
    cut = F.floor(F.col("__n") * 0.8).cast("long")
    labeled = numbered.select(
        "event_id",
        "ts",
        F.when(F.col("rn") <= cut, "train").otherwise("test").alias("split"),
    )
    return labeled.groupBy("split").agg(
        F.count("*").cast("long").alias("n"),
        F.min(F.unix_micros("ts")).alias("min_us"),
        F.max(F.unix_micros("ts")).alias("max_us"),
    )


@register(
    "training_best_of_n",
    """
    WITH cand AS (
      SELECT doc_id, doc_id % 125 AS prompt_id,
             len(list_distinct(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1))) AS n_distinct,
             len(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS n_tok
      FROM documents
    ),
    scored AS (
      SELECT prompt_id, doc_id,
             CASE WHEN n_tok > 0
                  THEN n_distinct / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS score,
             row_number() OVER (
               PARTITION BY prompt_id
               ORDER BY CASE WHEN n_tok > 0
                             THEN n_distinct / CAST(n_tok AS DOUBLE)
                             ELSE 0.0 END DESC, doc_id) AS rn
      FROM cand
    )
    SELECT prompt_id,
           CAST(count(*) AS BIGINT) AS n_candidates,
           max(CASE WHEN rn = 1 THEN doc_id END) AS best_doc_id,
           round(max(CASE WHEN rn = 1 THEN score END), 6) AS best_score,
           round(max(CASE WHEN rn = 2 THEN score END), 6) AS second_score,
           round(max(CASE WHEN rn = 1 THEN score END)
                 - max(CASE WHEN rn = 2 THEN score END), 6) AS margin
    FROM scored GROUP BY prompt_id
    """,
    doc="best-of-n rejection sampling: candidate documents group by a "
    "deterministic prompt key (doc_id mod 125 stands in for the prompt "
    "hash of a sampled-generations table), a reward model scores each "
    "candidate (here: type-token ratio — the seam where a learned "
    "reward plugs in), and the argmax with key tiebreak survives, with "
    "the best-vs-runner-up margin kept for selection-quality audits.  "
    "Score is ONE division of two exact integers (never an "
    "order-sensitive float fold); one hash shuffle on prompt_id, the "
    "window and groupBy reuse it.  At 100 TB prompts are the natural "
    "partition key — no global state, no skew beyond candidates-per-"
    "prompt (bounded by the sampler's n)",
)
def training_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
        lambda w: F.length(w) > 1,
    )
    cand = t["documents_spread"].select(
        "doc_id",
        (F.col("doc_id") % 125).alias("prompt_id"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(toks).alias("n_tok"),
    )
    score = F.when(
        F.col("n_tok") > 0,
        F.col("n_distinct") / F.col("n_tok").cast("double"),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("prompt_id").orderBy(
        score.desc(), F.col("doc_id")
    )
    scored = cand.select(
        "prompt_id",
        "doc_id",
        score.alias("score"),
        F.row_number().over(w).alias("rn"),
    )
    rn1 = F.when(F.col("rn") == 1, F.col("score"))
    rn2 = F.when(F.col("rn") == 2, F.col("score"))
    return scored.groupBy("prompt_id").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("best_doc_id"),
        F.round(F.max(rn1), 6).alias("best_score"),
        F.round(F.max(rn2), 6).alias("second_score"),
        F.round(F.max(rn1) - F.max(rn2), 6).alias("margin"),
    )


NEYMAN_BUDGET = 100


@register(
    "sample_stratified_neyman",
    f"""
    WITH strata AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY lang
    ),
    scored AS (
      SELECT lang, n_h,
             sqrt(greatest(s2 / CAST(n_h AS DOUBLE)
                           - (s1 / CAST(n_h AS DOUBLE))
                             * (s1 / CAST(n_h AS DOUBLE)), 0.0)) AS sd_h
      FROM strata
    ),
    tot AS (SELECT sum(n_h * sd_h ORDER BY lang) AS w FROM scored)
    SELECT s.lang, s.n_h, round(s.sd_h, 6) AS sd_h,
           CAST(floor({NEYMAN_BUDGET} * (s.n_h * s.sd_h) / t.w) AS BIGINT)
             AS alloc
    FROM scored s CROSS JOIN tot t
    """,
    doc="Neyman-optimal stratified sample allocation (Neyman 1934): "
    "per-stratum budget n_h ∝ N_h·S_h — variable strata get more "
    "budget than proportional allocation gives them; the principled "
    "alternative to the fixed per-group samplers when strata variances "
    "differ.  Moments are exact integer sums (order-free), S_h is one "
    "sqrt of identical doubles, the normalizer folds in sorted-lang "
    "order on both engines, and the final allocation is floor of one "
    "shared expression — engine-identical end to end.  One lang-key "
    "shuffle; the strata table is dimension-sized",
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    strata = t["documents"].groupBy("lang").agg(
        F.count("*").cast("long").alias("n_h"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    mean = F.col("s1") / F.col("n_h").cast("double")
    var = F.greatest(
        F.col("s2") / F.col("n_h").cast("double") - mean * mean, F.lit(0.0)
    )
    scored = strata.select(
        "lang", "n_h", F.sqrt(var).alias("sd_h")
    )
    # sorted-lang fold for the float normalizer (the repo's standard
    # determinism trick — sum(x ORDER BY lang) on the oracle side)
    tot = (
        scored.select(
            F.struct("lang", (F.col("n_h") * F.col("sd_h")).alias("x")).alias("p")
        )
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .select(
            F.aggregate(
                "ps", F.lit(0.0), lambda acc, p: acc + p["x"]
            ).alias("w")
        )
    )
    from pyspark.sql.functions import broadcast

    return scored.crossJoin(broadcast(tot)).select(
        "lang",
        "n_h",
        F.round("sd_h", 6).alias("sd_h"),
        F.floor(
            NEYMAN_BUDGET * (F.col("n_h") * F.col("sd_h")) / F.col("w")
        ).cast("long").alias("alloc"),
    )


BOTTOMK_K = 8


@register(
    "sample_bottomk_mergeable",
    f"""
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
      FROM documents) WHERE rank <= {BOTTOMK_K}
    """,
    doc="mergeable uniform sample via the bottom-k sketch (the KMV "
    "trick, Bar-Yossef et al. 2002): keep the k smallest md5(id) "
    "priorities.  bottom_k(A ∪ B) = bottom_k(bottom_k(A) ∪ "
    "bottom_k(B)), so per-shard/per-source sketches merge without "
    "resampling — the distributed-sample property random_split lacks.  "
    "The SPARK side deliberately computes through the merge path "
    "(per-source bottom-k → union of the tiny sketches → global "
    "bottom-k) while the ORACLE computes the direct global bottom-k: "
    "their hash-equality IS the mergeability proof, driver-checked "
    "every round.  One row_number window per source (source-key "
    "shuffle), then a k×n_sources-row merge — the corpus never "
    "sorts globally",
)
def sample_bottomk_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", "source", F.md5(F.col("doc_id").cast("string")).alias("__p")
    )
    w_src = Window.partitionBy("source").orderBy("__p", "doc_id")
    sketches = docs.withColumn("__r", F.row_number().over(w_src)).filter(
        F.col("__r") <= BOTTOMK_K
    )
    w_all = Window.orderBy("__p", "doc_id")
    return (
        sketches.withColumn("rank", F.row_number().over(w_all).cast("long"))
        .filter(F.col("rank") <= BOTTOMK_K)
        .select("rank", "doc_id", "source")
    )
