"""Corpus-quality queries: PII redaction, Gopher rules, decontamination,
stratified sampling — the filter/scrub stages of a pretraining data
pipeline, all oracle-checked.

North-star extensions (the reference pipeline ingests published
literature and has none of these stages); each is a scan-speed column
battery or a broadcast join — no UDFs, no corpus shuffle.

PII fixtures are PLANTED deterministically from doc_id (same
construction in Spark and SQL) so every redaction rule demonstrably
fires; the Gopher battery runs over planted per-doc degradations for the
same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knowledge_model_spark.functions.pii import oracle_sql_redact, redact_pii
from knowledge_model_spark.functions.text_analysis import gopher_quality_flags, token_count
from knowledge_model_spark.operators.decontam import (
    contamination_pairs,
    decontaminate,
)
from knowledge_model_spark.operators.relational import (
    hex_rate_bound,
    stratified_sample,
)
from knowledge_model_spark.plans import register
from knowledge_model_spark.session import load_tables

# ---- PII ---------------------------------------------------------------

_PII_RAW_SQL = """
    substring(text, 1, 120) || ' contact user' || CAST(doc_id AS VARCHAR)
    || '@example.org or +1 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
    || '.7 card 4111111111111111 ssn 123-45-6789 tail'
"""


def _pii_raw_col() -> F.Column:
    return F.concat(
        F.substring("text", 1, 120),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org or +1 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 card 4111111111111111 ssn 123-45-6789 tail"),
    )


@register(
    "text_pii_redact",
    f"""
    WITH raw AS (SELECT doc_id, {_PII_RAW_SQL} AS t FROM documents)
    SELECT doc_id, {oracle_sql_redact('t')} AS redacted
    FROM raw
    """,
    doc="PII redaction battery (emails, IPv4, SSN, phones, card numbers → "
    "typed placeholders) over planted fixtures — pure regexp_replace "
    "chain, scan-speed, zero Python (functions/pii.py)",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # regexp_replace chain is scan-side — spread (no-op at scale)
    return t["documents_spread"].select(
        "doc_id", redact_pii(_pii_raw_col()).alias("redacted")
    )


# ---- Gopher quality rules ---------------------------------------------

# Planted degradations: doc_id % 5 selects a failure mode so every rule
# fires somewhere.  chr(10)-joined lines exercise the line-based rules.
_GOPHER_RAW_SQL = """
    CASE doc_id % 5
      WHEN 0 THEN text
      WHEN 1 THEN regexp_replace(substring(text, 1, 200), ' ',
                                 chr(10) || chr(8226) || ' ', 'g')
      WHEN 2 THEN regexp_replace(substring(text, 1, 200), ' ',
                                 '...' || chr(10), 'g')
      WHEN 3 THEN regexp_replace(substring(text, 1, 300), ' ', ' # ', 'g')
      ELSE substring(text, 1, 40)
    END
"""


def _gopher_raw_col() -> F.Column:
    return (
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
        .when(
            F.col("doc_id") % 5 == 1,
            F.regexp_replace(F.substring("text", 1, 200), " ", "\n• "),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.regexp_replace(F.substring("text", 1, 200), " ", "...\n"),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.regexp_replace(F.substring("text", 1, 300), " ", " # "),
        )
        .otherwise(F.substring("text", 1, 40))
    )


@register(
    "quality_gopher_rules",
    f"""
    WITH raw AS (SELECT doc_id, {_GOPHER_RAW_SQL} AS t FROM documents),
    stats AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(t), '\\s+'),
                         w -> len(w) > 0) AS words,
             list_filter(regexp_split_to_array(t, chr(10)),
                         l -> len(trim(l)) > 0) AS lines,
             len(regexp_extract_all(t, '#|\\.\\.\\.|…', 0)) AS symbols
      FROM raw
    ),
    ratios AS (
      SELECT doc_id,
             CAST(len(words) AS DOUBLE) AS n_words,
             CAST(len(lines) AS DOUBLE) AS n_lines,
             CAST(len(array_to_string(words, '')) AS DOUBLE) AS word_chars,
             CAST(symbols AS DOUBLE) AS symbols,
             CAST(len(list_filter(lines, l ->
               regexp_matches(trim(l), '^([•\\-\\*]|\\d+[.)])\\s')))
               AS DOUBLE) AS bullet_lines,
             CAST(len(list_filter(lines, l ->
               regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
               AS DOUBLE) AS ellipsis_lines,
             CAST(len(list_filter(words, w ->
               regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) AS alpha_words
      FROM stats
    ),
    flags AS (
      SELECT doc_id,
             n_words,
             CASE WHEN n_words > 0 THEN word_chars / n_words ELSE 0.0 END AS mwl,
             CASE WHEN n_words > 0 THEN symbols / n_words ELSE 0.0 END AS swr,
             CASE WHEN n_lines > 0 THEN bullet_lines / n_lines ELSE 0.0 END AS blr,
             CASE WHEN n_lines > 0 THEN ellipsis_lines / n_lines ELSE 0.0 END AS elr,
             CASE WHEN n_words > 0 THEN alpha_words / n_words ELSE 0.0 END AS awr
      FROM ratios
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 6) AS mean_word_len,
           round(swr, 6) AS symbol_word_ratio,
           round(blr, 6) AS bullet_line_ratio,
           round(elr, 6) AS ellipsis_line_ratio,
           round(awr, 6) AS alpha_word_ratio,
           (n_words >= 50 AND mwl >= 3.0 AND mwl <= 10.0 AND swr < 0.1
            AND blr < 0.9 AND elr < 0.3 AND awr > 0.8) AS gopher_pass
    FROM flags
    """,
    doc="Gopher-style quality rules (Rae et al. 2021 §A1.1: word count, "
    "mean word length, symbol/bullet/ellipsis ratios, alpha-word ratio) "
    "over planted per-doc degradations — two array expressions drive the "
    "whole battery at scan speed (functions/text_analysis.py)",
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # scan-side per-row battery on a one-split local parquet — spread
    # so the regex work uses every core (no-op at scale)
    return t["documents_spread"].select(
        "doc_id", *gopher_quality_flags(_gopher_raw_col())
    )


# ---- decontamination ---------------------------------------------------

_K = 8  # word 8-grams — the GPT-3 data card's 13-gram rule, scaled to
# the synthetic docs' shorter sentences

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

_DECONTAM_CTE = f"""
    WITH norm AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({_NORM}, ' '),
                         w -> len(w) > 0) AS words
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(words) < {_K} THEN [array_to_string(words, ' ')]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(words) - {_K - 1}),
                         i -> array_to_string(list_slice(words, i, i + {_K - 1}), ' ')))
             END AS sh
      FROM norm
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    train_sh AS (SELECT doc_id AS train_id, s FROM ex WHERE train_id % 10 != 0),
    eval_sh  AS (SELECT doc_id AS eval_id,  s FROM ex WHERE eval_id % 10 = 0),
    hits AS (
      SELECT train_id, eval_id, count(*) AS n_shared
      FROM train_sh JOIN eval_sh USING (s)
      GROUP BY train_id, eval_id
    )
"""


@register(
    "decontam_report",
    _DECONTAM_CTE + "SELECT train_id, eval_id, n_shared FROM hits",
    doc="train/eval contamination report: word 8-gram overlap between the "
    "train split (doc_id % 10 != 0) and eval split (doc_id % 10 = 0) — "
    "eval shingle index broadcasts, corpus never shuffles "
    "(operators/decontam.py; the GPT-3/PaLM n-gram decontamination rule)",
)
def decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    return contamination_pairs(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        k=_K,
    )


@register(
    "decontam_survivors",
    _DECONTAM_CTE
    + """
    SELECT doc_id, source FROM documents
    WHERE doc_id % 10 != 0
      AND doc_id NOT IN (SELECT train_id FROM hits)
    """,
    doc="decontaminated training corpus: train rows minus every document "
    "sharing an 8-gram with the eval split (broadcast anti-join on the "
    "small doomed set)",
)
def decontam_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    return decontaminate(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        "doc_id",
        "text",
        k=_K,
    ).select("doc_id", "source")


# ---- stratified sampling ----------------------------------------------

_RATES = {"en": 0.5, "zh": 0.75}  # downsample the majority languages


@register(
    "sample_stratified_lang",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE lang WHEN 'en' THEN '{hex_rate_bound(0.5)}'
                    WHEN 'zh' THEN '{hex_rate_bound(0.75)}'
                    ELSE 'zzzz' END
    """,
    doc="deterministic stratified rebalancing: downsample en to 50% and zh "
    "to 75% by md5-hash fraction — content-addressed membership, stable "
    "across runs/cluster sizes/corpus growth, scan-speed filter with no "
    "RNG state (operators/relational.py stratified_sample)",
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return stratified_sample(
        t["documents"], "lang", _RATES, key_col="doc_id"
    ).select("doc_id", "lang")


# ---- intra-document repetition ----------------------------------------

# Planted degradations: %3==1 repeats a line, %3==2 loops one phrase.
_REP_RAW_SQL = """
    CASE doc_id % 3
      WHEN 1 THEN substring(text, 1, 60) || chr(10) || substring(text, 1, 60)
                  || chr(10) || substring(text, 1, 60) || chr(10)
                  || substring(text, 61, 120)
      WHEN 2 THEN repeat(substring(text, 1, 30) || ' ', 10)
                  || substring(text, 31, 200)
      ELSE text
    END
"""


def _rep_raw_col() -> F.Column:
    line = F.substring("text", 1, 60)
    return (
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(line, F.lit("\n"), line, F.lit("\n"), line, F.lit("\n"),
                     F.substring("text", 61, 120)),
        )
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat(F.repeat(F.concat(F.substring("text", 1, 30), F.lit(" ")), 10),
                     F.substring("text", 31, 200)),
        )
        .otherwise(F.col("text"))
    )


@register(
    "quality_repetition_rules",
    f"""
    WITH raw AS (SELECT doc_id, {_REP_RAW_SQL} AS t FROM documents),
    parts AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(t, chr(10)),
                         l -> len(trim(l)) > 0) AS lines,
             list_filter(regexp_split_to_array(
                           trim(regexp_replace(lower(t), '[^a-z0-9]+', ' ', 'g')), ' '),
                         w -> len(w) > 0) AS words
      FROM raw
    ),
    grams AS (
      SELECT doc_id, lines,
             CASE WHEN len(words) < 2 THEN []
                  ELSE list_transform(generate_series(1, len(words) - 1),
                                      i -> words[i] || ' ' || words[i+1])
             END AS g
      FROM parts
    ),
    stats AS (
      SELECT doc_id,
             CAST(len(lines) AS DOUBLE) AS n_lines,
             CAST(len(list_distinct(lines)) AS DOUBLE) AS n_distinct_lines,
             CAST(len(g) AS DOUBLE) AS n_grams,
             CAST(CASE WHEN len(g) = 0 THEN 0
                       ELSE list_max(list_transform(list_distinct(g),
                              x -> len(list_filter(g, y -> y = x))))
                  END AS DOUBLE) AS top_gram
      FROM grams
    )
    SELECT doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           round(CASE WHEN n_lines > 0
                      THEN 1.0 - n_distinct_lines / n_lines ELSE 0.0 END, 6)
             AS dup_line_frac,
           round(CASE WHEN n_grams > 0 THEN top_gram / n_grams ELSE 0.0 END, 6)
             AS top_bigram_frac,
           ((CASE WHEN n_lines > 0
                  THEN 1.0 - n_distinct_lines / n_lines ELSE 0.0 END) < 0.3
            AND (CASE WHEN n_grams > 0 THEN top_gram / n_grams ELSE 0.0 END) < 0.2)
             AS repetition_pass
    FROM stats
    """,
    doc="intra-document repetition rules (Gopher §A1.1 repetition "
    "filters): duplicate-line fraction and most-frequent-word-bigram "
    "fraction over planted degradations — repeated boilerplate inside a "
    "single document is the quality failure near-dup detection across "
    "documents cannot see",
)
def quality_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.text_analysis import normalize_for_dedup

    t = load_tables(spark, sf_dir)
    from knowledge_model_spark.session import ensure_min_partitions

    # materialize lines/words/bigrams first: the top-bigram count lambda
    # references the gram array per distinct element — it must be an
    # attribute read, not an inlined expression subtree
    parts = (
        ensure_min_partitions(t["documents"])
        .select(
            "doc_id",
            F.filter(F.split(_rep_raw_col(), "\n"),
                     lambda l: F.length(F.trim(l)) > 0).alias("lines"),
            F.filter(F.split(normalize_for_dedup(_rep_raw_col()), " "),
                     lambda w: F.length(w) > 0).alias("words"),
        )
        .localCheckpoint(eager=True)
    )
    grams = parts.select(
        "doc_id",
        "lines",
        F.when(
            F.size("words") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("words") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("words", i), F.element_at("words", i + F.lit(1))
                ),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("g"),
    ).localCheckpoint(eager=True)
    n_lines = F.size("lines").cast("double")
    n_grams = F.size("g").cast("double")
    top_gram = F.when(
        F.size("g") == 0, F.lit(0.0)
    ).otherwise(
        F.array_max(
            F.transform(
                F.array_distinct("g"),
                lambda x: F.size(F.filter("g", lambda y: y == x)),
            )
        ).cast("double")
    )
    dup_line_frac = F.when(
        n_lines > 0, 1.0 - F.size(F.array_distinct("lines")) / n_lines
    ).otherwise(F.lit(0.0))
    top_frac = F.when(n_grams > 0, top_gram / n_grams).otherwise(F.lit(0.0))
    return grams.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        ((dup_line_frac < 0.3) & (top_frac < 0.2)).alias("repetition_pass"),
    )


@register(
    "sample_mixture_temperature",
    """
    WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT min(n) AS nmin FROM c),
    r AS (
      SELECT lang,
             CASE WHEN sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) >= 1.0
                  THEN 'zzzz'
                  ELSE lpad(lower(to_hex(CAST(floor(
                         sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)) * 65536
                       ) AS BIGINT))), 4, '0')
             END AS bound
      FROM c, m
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.bound
    """,
    doc="temperature/alpha mixture re-weighting (multilingual-LM sampling, "
    "alpha=0.5) over the skewed lang strata: per-stratum keep rate "
    "(n_min/n_s)^(1-alpha) computed from "
    "corpus counts — smallest source keeps all, larger sources shed excess "
    "— applied as a broadcast-joined content-addressed md5 filter, "
    "scan-speed on the corpus side; sqrt (IEEE exactly rounded in both "
    "JVM and DuckDB) makes the hex bucket bound bit-identical to the "
    "oracle (operators/relational.py mixture_rates/apply_mixture)",
)
def sample_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import apply_mixture

    t = load_tables(spark, sf_dir)
    return apply_mixture(
        t["documents"], "lang", key_col="doc_id", alpha=0.5
    ).select("doc_id", "lang")


@register(
    "quality_dsir_weights",
    """
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS is_tgt, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    stats AS (
      SELECT term, count(*) AS c_raw,
             count(*) FILTER (WHERE is_tgt) AS c_tgt
      FROM toks GROUP BY term
    ),
    tot AS (
      SELECT count(*) AS v, sum(c_raw) AS tot_raw, sum(c_tgt) AS tot_tgt
      FROM stats
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    contrib AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * (ln((s.c_tgt + 1.0) / CAST(t.tot_tgt + t.v AS DOUBLE))
                      - ln((s.c_raw + 1.0) / CAST(t.tot_raw + t.v AS DOUBLE)))
               AS contrib
      FROM tf JOIN stats s USING (term) CROSS JOIN tot t
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
           round(sum(contrib ORDER BY term) / sum(tf), 6) AS dsir_weight
    FROM contrib GROUP BY doc_id
    """,
    doc="DSIR-style importance weights (Xie et al., NeurIPS'23): per-doc "
    "mean unigram log-likelihood ratio toward the lang='en' target "
    "slice, add-1 smoothed over the shared vocabulary — the resampling "
    "score a 100 TB crawl-to-target selection pass sorts by; per-doc "
    "sums fold in sorted term order on BOTH engines (F.aggregate vs "
    "sum(... ORDER BY term)) so float addition order is fixed",
)
def quality_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.importance import dsir_importance

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"].withColumn("__tgt", F.col("lang") == "en")
    out = dsir_importance(docs, "doc_id", "text", "__tgt")
    return out.select(
        F.col("id").alias("doc_id"), F.col("dl").cast("long").alias("dl"), "dsir_weight"
    )


@register(
    "quality_unigram_logppl",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    stats AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS v, sum(c) AS tot FROM stats),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    contrib AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ln((s.c + 1.0) / CAST(t.tot + t.v AS DOUBLE)) AS contrib
      FROM tf JOIN stats s USING (term) CROSS JOIN tot t
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
           round(-sum(contrib ORDER BY term) / sum(tf), 6) AS logppl
    FROM contrib GROUP BY doc_id
    """,
    doc="CCNet-style unigram log-perplexity quality score (Wenzek et "
    "al., LREC'20: score with an LM, keep the low-perplexity head) "
    "with an in-corpus add-1 unigram LM — the stats table is the seam "
    "where a broadcast table of pretrained KenLM log-probs plugs in; "
    "per-doc sums fold in sorted term order on BOTH engines so float "
    "addition order is fixed (operators/importance.py::unigram_log_ppl)",
)
def quality_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.importance import unigram_log_ppl

    t = load_tables(spark, sf_dir)
    out = unigram_log_ppl(t["documents_spread"], "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("dl").cast("long").alias("dl"),
        "logppl",
    )


@register(
    "sample_fixed_per_group",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents) WHERE rn <= 3
    """,
    doc="exactly-3-documents-per-language deterministic sample (eval-set "
    "construction): md5-of-key priority + key tiebreak, one row_number "
    "window = a single shuffle on the group key, content-addressed so "
    "membership is stable across runs/partitionings/corpus growth "
    "(operators/relational.py::fixed_sample_per_group)",
)
def sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.relational import fixed_sample_per_group

    t = load_tables(spark, sf_dir)
    return fixed_sample_per_group(
        t["documents"].select("doc_id", "lang"), "lang", 3, "doc_id"
    )


@register(
    "quality_k_anonymity",
    """
    WITH groups AS (
      SELECT lang, source, count(*) AS grp_n
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, CAST(grp_n AS BIGINT) AS grp_n,
           grp_n < 5 AS at_risk
    FROM groups
    """,
    doc="k-anonymity audit over the quasi-identifier pair (lang, "
    "source): equivalence-class sizes with k=5 risk flags — the "
    "privacy gate a training-data release runs after PII redaction "
    "(small classes re-identify even with direct identifiers "
    "scrubbed); one groupBy on the quasi-identifier tuple",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("grp_n"))
        .select("lang", "source", "grp_n", (F.col("grp_n") < 5).alias("at_risk"))
    )


@register(
    "quality_classifier_score",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    feat AS (
      SELECT doc_id, term,
             (('0x' || substring(md5(term), 1, 4))::BIGINT % 4096) AS idx
      FROM toks
    ),
    w AS (SELECT doc_id, term, idx / 4096.0 - 0.5 AS w FROM feat)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
           round(1.0 / (1.0 + exp(-(sum(w ORDER BY term) / count(*)))), 6)
             AS score
    FROM w GROUP BY doc_id
    """,
    doc="fastText-shaped quality classifier (Joulin et al. 2016; the "
    "DataComp/RedPajama filter pattern): hashing-trick unigram features "
    "(md5-hex mod 4096) → linear layer → sigmoid, entirely as Column "
    "expressions — a trained weight vector plugs in as ONE array "
    "literal (operators/importance.py::hashed_linear_score); "
    "deterministic pseudo-weights exercise the identical plumbing, "
    "sorted-fold float determinism",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.importance import hashed_linear_score

    t = load_tables(spark, sf_dir)
    out = hashed_linear_score(t["documents_spread"], "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("dl").cast("long").alias("dl"),
        "score",
    )


@register(
    "stats_chi2_lang_source",
    """
    WITH c AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY lang, source
    ),
    m AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang)   AS row_n,
             sum(o) OVER (PARTITION BY source) AS col_n,
             sum(o) OVER ()                    AS n
      FROM c
    ),
    parts AS (
      SELECT lang || '|' || source AS cell,
             (o - (row_n * col_n) / CAST(n AS DOUBLE))
             * (o - (row_n * col_n) / CAST(n AS DOUBLE))
             / ((row_n * col_n) / CAST(n AS DOUBLE)) AS part,
             (SELECT count(DISTINCT lang) FROM c)   AS r,
             (SELECT count(DISTINCT source) FROM c) AS k
      FROM m
    )
    SELECT round(sum(part ORDER BY cell), 6) AS chi2,
           CAST((any_value(r) - 1) * (any_value(k) - 1) AS BIGINT) AS dof
    FROM parts
    """,
    doc="chi-square independence test over the (lang × source) "
    "contingency table: observed counts are exact longs, expected "
    "counts derive from them in double, and the statistic folds its "
    "per-cell terms in sorted cell order — the exact-moment recipe, so "
    "the float χ² is engine- and partitioning-identical; one groupBy "
    "plus window marginals, no second scan.  (Note: OBSERVED cells "
    "only, the sparse-table convention — all-zero cells contribute 0)",
)
def stats_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    c = t["documents"].groupBy("lang", "source").agg(F.count("*").alias("o"))
    m = c.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(Window.partitionBy("lang")).alias("row_n"),
        F.sum("o").over(Window.partitionBy("source")).alias("col_n"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = (F.col("row_n") * F.col("col_n")) / F.col("n").cast("double")
    parts = m.select(
        F.concat_ws("|", "lang", "source").alias("cell"),
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("part"),
    )
    dims = c.agg(
        F.countDistinct("lang").alias("r"), F.countDistinct("source").alias("k")
    )
    return (
        parts.agg(
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("cell", "part"))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["part"],
                ),
                6,
            ).alias("chi2")
        )
        .crossJoin(dims)
        .select(
            "chi2",
            ((F.col("r") - 1) * (F.col("k") - 1)).cast("long").alias("dof"),
        )
    )


# Poisson(1) inverse-CDF thresholds (cumsum of e^-1/k!), shared 12-dp
# literals so Spark and DuckDB draw IDENTICAL replicate weights from the
# same md5-derived dyadic-rational uniform.
_POIS_T = [
    0.367879441171, 0.735758882343, 0.919698602929,
    0.981011843124, 0.996340153173, 0.999405815182,
]


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {branches} ELSE 6 END"


@register(
    "stats_bootstrap_ci",
    f"""
    WITH x AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             w -> len(w) > 0)) AS n_tok
      FROM documents
    ),
    rep AS (
      SELECT b.b, doc_id, n_tok,
             CAST(('0x' || substring(md5(CAST(b.b AS VARCHAR) || ':' ||
                                         CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT) / 4503599627370496.0 AS u
      FROM x CROSS JOIN (SELECT unnest(range(64)) AS b) b
    ),
    w AS (SELECT b, n_tok, {_pois_case_sql('u')} AS w FROM rep),
    est AS (
      SELECT b, round(sum(w * n_tok) / CAST(sum(w) AS DOUBLE), 6) AS est
      FROM w GROUP BY b HAVING sum(w) > 0
    ),
    sorted_est AS (SELECT list_sort(list(est)) AS es, count(*) AS nb FROM est),
    point AS (SELECT round(avg(n_tok), 6) AS point_est FROM x)
    SELECT point.point_est,
           CAST(nb AS BIGINT) AS n_replicates,
           es[2] AS ci_lo, es[nb - 1] AS ci_hi
    FROM sorted_est, point
    """,
    doc="Poisson bootstrap 95% CI for mean tokens/doc (Chamandy et al., "
    "'Estimating Uncertainty for Massive Data Streams', Google 2012): "
    "with-replacement resampling is impossible in one pass at 100 TB, "
    "but replicate weights w ~ Poisson(1) drawn PER ROW are iid across "
    "rows, so 64 weighted means computed map-side in ONE scan are a "
    "valid bootstrap. Weights come from md5-derived dyadic-rational "
    "uniforms through shared 12-dp inverse-CDF literals — every "
    "replicate integer sum is engine-identical, so the order statistics "
    "(2nd / 63rd of 64) match exactly. The CI machinery every corpus "
    "metric here (recall@k, quality rates, drift shares) can wrap.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    B = 64
    x = t["documents_spread"].select(
        "doc_id",
        token_count(F.col("text")).alias("n_tok"),
    )
    rep = x.select(
        "doc_id",
        "n_tok",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("b").cast("string"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4503599627370496.0)
    )
    w = F.lit(6)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w = F.when(u < _POIS_T[k], F.lit(k)).otherwise(w)
    est = (
        rep.select("b", "n_tok", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("n_tok")).alias("sw"),
            F.sum("w").alias("n"),
        )
        .filter(F.col("n") > 0)
        .select("b", F.round(F.col("sw") / F.col("n").cast("double"), 6).alias("est"))
    )
    summary = est.agg(
        F.sort_array(F.collect_list("est")).alias("es"),
        F.count("*").alias("nb"),
    )
    point = x.agg(F.round(F.avg("n_tok"), 6).alias("point_est"))
    return summary.crossJoin(point).select(
        "point_est",
        F.col("nb").cast("long").alias("n_replicates"),
        F.element_at("es", 2).alias("ci_lo"),
        F.element_at("es", F.col("nb").cast("int") - 1).alias("ci_hi"),
    )


@register(
    "stats_equidepth_histogram",
    """
    WITH cells AS (
      SELECT CAST(floor(l_extendedprice) AS BIGINT) AS v,
             count(*) AS cnt,
             count(DISTINCT l_extendedprice) AS ndv
      FROM lineitem GROUP BY 1
    ),
    c2 AS (
      SELECT v, cnt, ndv,
             coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
             sum(cnt) OVER () AS total
      FROM cells
    )
    SELECT CAST(least(7, (cum_before * 8) // total) AS BIGINT) AS bin,
           min(v) AS lo, max(v) AS hi,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(sum(ndv) AS BIGINT) AS n_distinct
    FROM c2 GROUP BY 1
    """,
    doc="ANALYZE-style equi-depth (8-bin) column histogram + per-bin NDV "
    "for l_extendedprice — the optimizer-statistics build.  Two-level "
    "shape: raw rows collapse to a (grid value, count, ndv) frequency "
    "table with ONE shuffle on the unit-floor grid key (grid NDV "
    "bounds the table regardless of row count), then the cumulative "
    "bin assignment runs a window over that NDV-bounded table only — "
    "the single-partition sort never sees raw rows.  All arithmetic "
    "is exact integers (cum*8 div total), so bins are engine- and "
    "partitioning-identical; at true 100 TB the same frequency table "
    "feeds the KLL sketch (agg_kll_quantile_merge) when even the grid "
    "is too fine",
)
def stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    cells = (
        t["lineitem"]
        .select(
            F.floor("l_extendedprice").cast("long").alias("v"),
            F.col("l_extendedprice").alias("raw"),
        )
        .groupBy("v")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("raw").alias("ndv"),
        )
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c2 = cells.select(
        "v",
        "cnt",
        "ndv",
        F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"),
    )
    return (
        c2.select(
            F.least(F.lit(7), F.expr("(cum_before * 8) div total"))
            .cast("long")
            .alias("bin"),
            "v",
            "cnt",
            "ndv",
        )
        .groupBy("bin")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").alias("n_rows"),
            F.sum("ndv").alias("n_distinct"),
        )
    )


# Welch's two-sample t-test. The A/B assignment is content-addressed
# (md5 of the order key — the same deterministic-split idiom as every
# sampler), the metric is l_quantity whose integral values sum EXACTLY
# as int64, and every float appears only in the final scalar formulas
# computed from those exact integer moments — so t and the
# Welch–Satterthwaite df are bit-identical in both engines at any
# parallelism.  At 100 TB the moments are one map-side-combinable
# aggregation; swap the int64 sums for decimal(38,0) if the metric
# magnitude could overflow.
@register(
    "stats_welch_ttest",
    """
    WITH m AS (
      SELECT
        count(*) FILTER (substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '8') AS n_a,
        count(*) FILTER (substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) >= '8') AS n_b,
        sum(CAST(l_quantity AS BIGINT))
          FILTER (substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '8') AS s_a,
        sum(CAST(l_quantity AS BIGINT))
          FILTER (substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) >= '8') AS s_b,
        sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
          FILTER (substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '8') AS ss_a,
        sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
          FILTER (substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) >= '8') AS ss_b
      FROM lineitem
    ),
    d AS (
      SELECT n_a, n_b,
             CAST(s_a AS DOUBLE) / n_a AS mean_a,
             CAST(s_b AS DOUBLE) / n_b AS mean_b,
             (ss_a - CAST(s_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / n_a)) / (n_a - 1) AS var_a,
             (ss_b - CAST(s_b AS DOUBLE) * (CAST(s_b AS DOUBLE) / n_b)) / (n_b - 1) AS var_b
      FROM m
    )
    SELECT n_a, n_b,
           round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
           round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
           round(
             (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 4) AS welch_df
    FROM d
    """,
    doc="Welch's unequal-variance two-sample t-test over a "
    "content-addressed md5 A/B split of lineitem (metric: l_quantity) "
    "— the experiment-analysis primitive; exact int64 moment sums in "
    "ONE map-side-combined aggregation, floats only in the final "
    "scalar t / Welch-Satterthwaite df formulas, so the statistics "
    "are engine- and partitioning-identical",
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    is_a = F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1) < "8"
    q = F.col("l_quantity").cast("long")
    m = t["lineitem"].agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.count(F.when(~is_a, 1)).alias("n_b"),
        F.sum(F.when(is_a, q)).alias("s_a"),
        F.sum(F.when(~is_a, q)).alias("s_b"),
        F.sum(F.when(is_a, q * q)).alias("ss_a"),
        F.sum(F.when(~is_a, q * q)).alias("ss_b"),
    )
    d = m.selectExpr(
        "n_a",
        "n_b",
        "CAST(s_a AS DOUBLE) / n_a AS mean_a",
        "CAST(s_b AS DOUBLE) / n_b AS mean_b",
        "(ss_a - CAST(s_a AS DOUBLE) * (CAST(s_a AS DOUBLE) / n_a)) / (n_a - 1) AS var_a",
        "(ss_b - CAST(s_b AS DOUBLE) * (CAST(s_b AS DOUBLE) / n_b)) / (n_b - 1) AS var_b",
    )
    return d.selectExpr(
        "n_a",
        "n_b",
        "round(mean_a, 6) AS mean_a",
        "round(mean_b, 6) AS mean_b",
        "round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat",
        "round((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)"
        " / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)"
        "    + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 4) AS welch_df",
    )


# ------------------------------------------------- character entropy

# [a-z0-9 ] alphabet over the normalized text; literal so the oracle
# iterates the identical set.
_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


@register(
    "quality_char_entropy",
    f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    cnts AS (
      SELECT n.doc_id, length(n.t) AS n_chars,
             length(n.t) - length(replace(n.t, a.ch, '')) AS cnt
      FROM norm n CROSS JOIN (
        SELECT unnest({list(_ENTROPY_ALPHABET)!r}) AS ch) a
      WHERE length(n.t) > 0
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           round(sum(CASE WHEN cnt > 0
                 THEN -(CAST(cnt AS DOUBLE) / n_chars)
                      * ln(CAST(cnt AS DOUBLE) / n_chars) ELSE 0 END), 6)
             AS entropy,
           round(sum(CASE WHEN cnt > 0
                 THEN -(CAST(cnt AS DOUBLE) / n_chars)
                      * ln(CAST(cnt AS DOUBLE) / n_chars) ELSE 0 END), 6) < 2.0
             AS low_entropy
    FROM cnts GROUP BY doc_id, n_chars
    """,
    doc="Character-level Shannon entropy per document — the "
    "compression-ratio quality proxy (RefinedWeb/Gopher family): "
    "machine-generated or repetitive junk has low char entropy, "
    "natural text sits near the language's ~2.8-4.2 nat band. "
    "Scan-speed with ZERO shuffle on the Spark side: the 37 "
    "alphabet counts come from length(t)-length(replace(t,c,'')) "
    "expressions built ONCE into an array and folded with one "
    "aggregate() lambda — no explode, no per-char rows (the oracle "
    "states the same counts via an unnested alphabet table). ln() "
    "evaluates on identical doubles; the 37-term fold spread is "
    "~1e-15, absorbed by round(.,6).",
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    # 37 per-char replace() scans per row are scan-side compute on a
    # one-split local parquet — spread across cores (no-op at scale)
    docs = t["documents_spread"].select("doc_id", norm.alias("t")).filter(
        F.length("t") > 0
    )
    n = F.length("t")
    counts = F.array(
        *[
            (F.length("t") - F.length(F.replace(F.col("t"), F.lit(c)))).cast(
                "double"
            )
            for c in _ENTROPY_ALPHABET
        ]
    )
    ent = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc
        + F.when(
            c > 0, -(c / n.cast("double")) * F.log(c / n.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        F.round(ent, 6).alias("entropy"),
        (F.round(ent, 6) < 2.0).alias("low_entropy"),
    )


@register(
    "quality_bigram_backoff",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1) AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS w1, toks[i+1] AS w2
      FROM toks, unnest(range(1, len(toks))) AS t(i)
    ),
    lm_toks AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w, count(*) AS c_uni
      FROM (SELECT unnest(toks) AS w FROM lm_toks) GROUP BY w
    ),
    tot AS (SELECT sum(c_uni) AS n FROM uni),
    bi AS (
      SELECT toks[i] AS w1, toks[i+1] AS w2, count(*) AS c_bi
      FROM lm_toks, unnest(range(1, len(toks))) AS t(i)
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT bg.doc_id, bg.pos,
             CASE WHEN bi.c_bi IS NOT NULL
                  THEN ln(bi.c_bi / u1.c_uni)
                  ELSE ln(0.4) + ln(u2.c_uni / t.n) END AS contrib
      FROM bg
      LEFT JOIN bi ON bg.w1 = bi.w1 AND bg.w2 = bi.w2
      JOIN uni u1 ON bg.w1 = u1.w
      JOIN uni u2 ON bg.w2 = u2.w
      CROSS JOIN tot t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(contrib ORDER BY pos) / count(*), 6) AS sb_logscore
    FROM scored GROUP BY doc_id
    """,
    doc="per-document bigram log-score under stupid backoff (Brants et "
    "al., EMNLP'07 — the smoothing built for MapReduce-scale count "
    "tables: raw counts only, no discount renormalization); LM counts "
    "come from the even-doc_id train slice so held-out documents "
    "genuinely exercise the 0.4-weighted unigram backoff branch; "
    "position-ordered fold + round-6 absorbs ln() libm ulp "
    "(operators/ngram_lm.py::stupid_backoff_scores)",
)
def quality_bigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.ngram_lm import stupid_backoff_scores

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    out = stupid_backoff_scores(
        docs, "doc_id", "text", lm_df=docs.filter(F.col("doc_id") % 2 == 0)
    )
    return out.select(F.col("id").alias("doc_id"), "n_bigrams", "sb_logscore")


@register(
    "stats_mannwhitney_u",
    """
    WITH pooled AS (
      SELECT value, CAST(event_type = 'click' AS INTEGER) AS is_x
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    vg AS (
      SELECT value, count(*) AS cnt, sum(is_x) AS cnt_x
      FROM pooled GROUP BY value
    ),
    ranked AS (
      SELECT value, cnt, cnt_x,
             coalesce(sum(cnt) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (cnt + 1) / 2.0 AS avg_rank
      FROM vg
    ),
    agg AS (
      SELECT sum(cnt_x) AS n_x, sum(cnt - cnt_x) AS n_y,
             sum(cnt_x * avg_rank) AS r_x,
             sum(cnt * cnt * cnt - cnt) AS ties
      FROM ranked
    )
    SELECT CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
           round(r_x - n_x * (n_x + 1) / 2.0, 6) AS u_stat,
           round((r_x - n_x * (n_x + 1) / 2.0 - n_x * n_y / 2.0)
                 / sqrt(n_x * n_y / 12.0 *
                        ((n_x + n_y + 1) - ties /
                         CAST((n_x + n_y) * (n_x + n_y - 1) AS DOUBLE))), 6)
             AS z_score
    FROM agg
    """,
    doc="Mann-Whitney U rank-sum test (click vs purchase event values) "
    "with tie-corrected normal approximation — the nonparametric "
    "complement of stats_welch_ttest for skewed metrics; average ranks "
    "come from a window over the VALUE-level aggregate (distinct "
    "values), and every rank term is an exact dyadic double (halves), "
    "so the sums are order-independent and engine-identical; at 100 TB "
    "grid the values first (the equidepth-histogram note) or swap in "
    "the KLL sketch",
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    pooled = (
        t["events"]
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "value", (F.col("event_type") == "click").cast("int").alias("is_x")
        )
    )
    vg = pooled.groupBy("value").agg(
        F.count("*").alias("cnt"), F.sum("is_x").alias("cnt_x")
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vg.withColumn(
        "avg_rank",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)) + (F.col("cnt") + 1) / 2.0,
    )
    agg = ranked.agg(
        F.sum("cnt_x").alias("n_x"),
        F.sum(F.col("cnt") - F.col("cnt_x")).alias("n_y"),
        F.sum(F.col("cnt_x") * F.col("avg_rank")).alias("r_x"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).alias(
            "ties"
        ),
    )
    n_x, n_y, r_x, ties = F.col("n_x"), F.col("n_y"), F.col("r_x"), F.col("ties")
    u = r_x - n_x * (n_x + 1) / 2.0
    mu = n_x * n_y / 2.0
    sigma = F.sqrt(
        n_x * n_y / 12.0
        * ((n_x + n_y + 1) - ties / ((n_x + n_y) * (n_x + n_y - 1)).cast("double"))
    )
    return agg.select(
        n_x.cast("long").alias("n_x"),
        n_y.cast("long").alias("n_y"),
        F.round(u, 6).alias("u_stat"),
        F.round((u - mu) / sigma, 6).alias("z_score"),
    )


def _luhn_imports():
    from knowledge_model_spark.functions.pii import luhn_valid, oracle_sql_luhn

    return luhn_valid, oracle_sql_luhn


@register(
    "quality_luhn_audit",
    # oracle twin generated from the SAME pattern builder as the engine
    # expression (functions/pii.py::oracle_sql_luhn) — candidates are
    # 16-digit zero-padded order keys, a deterministic mixed pool of
    # checksum-valid and -invalid numbers
    """
    SELECT o_orderkey,
           lpad(CAST(o_orderkey AS VARCHAR), 16, '0') AS cand,
           {valid} AS luhn_ok
    FROM orders
    """.format(
        valid=__import__(
            "knowledge_model_spark.functions.pii", fromlist=["oracle_sql_luhn"]
        ).oracle_sql_luhn("lpad(CAST(o_orderkey AS VARCHAR), 16, '0')")
    ),
    doc="Luhn mod-10 checksum validation (ISO/IEC 7812) as a scan-speed "
    "integer expression — the precision gate card-number redaction "
    "needs (bare \\d{13,16} matches are mostly ids/timestamps; only "
    "checksum-valid candidates get redacted, because a false positive "
    "deletes corpus signal forever); engine and oracle expressions are "
    "generated from the same builder so they cannot drift "
    "(functions/pii.py::luhn_valid)",
)
def quality_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    luhn_valid, _ = _luhn_imports()
    t = load_tables(spark, sf_dir)
    cand = F.lpad(F.col("o_orderkey").cast("string"), 16, "0")
    return t["orders"].select(
        "o_orderkey", cand.alias("cand"), luhn_valid(cand).alias("luhn_ok")
    )


def bh_adjust(p_df: DataFrame, id_col: str, p_col: str) -> DataFrame:
    """Benjamini-Hochberg step-up q-values over a (id, p_value) table:
    q_i = min_{j>=i} p_j * n / j, capped at 1; ``significant`` at FDR
    0.25.  Runs on the per-group
    TEST table (segments, not rows), so the two global windows are over
    a handful of rows at any corpus scale."""
    from pyspark.sql import Window

    wr = Window.orderBy(p_col, id_col)
    ranked = p_df.select(
        F.col(id_col),
        F.col(p_col),
        F.row_number().over(wr).cast("long").alias("rnk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    wmin = Window.orderBy(F.col("rnk").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    q = F.least(
        F.min(F.col(p_col) * F.col("n") / F.col("rnk")).over(wmin), F.lit(1.0)
    )
    return ranked.select(
        F.col(id_col),
        F.round(p_col, 9).alias(p_col),
        "rnk",
        F.round(q, 9).alias("q_value"),
        (q <= 0.25).alias("significant"),
    )


@register(
    "stats_bh_fdr",
    """
    WITH p AS (
      SELECT source,
             (CAST(('0x' || substring(md5(source), 1, 13)) AS BIGINT) + 1)
               / 4503599627370496.0 AS p_value
      FROM (SELECT DISTINCT source FROM documents)
    ),
    ranked AS (
      SELECT source, p_value,
             CAST(row_number() OVER (ORDER BY p_value, source) AS BIGINT) AS rnk,
             count(*) OVER () AS n
      FROM p
    )
    SELECT source, round(p_value, 9) AS p_value, rnk,
           round(least(min(p_value * n / rnk) OVER (
                   ORDER BY rnk DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 9)
             AS q_value,
           least(min(p_value * n / rnk) OVER (
                   ORDER BY rnk DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0) <= 0.25
             AS significant
    FROM ranked
    """,
    doc="Benjamini-Hochberg FDR adjustment (step-up q-values, the "
    "multiple-testing control an experimentation pipeline applies over "
    "per-segment tests before acting on them): q_i = min_{j>=i} p_j·n/j "
    "as a reverse-cumulative-min window; runs entirely on the GROUP "
    "table (20 sources), never the corpus — the md5-uniform p_value "
    "column is the seam where real per-group p-values (welch/chi2 per "
    "source) plug in; every term exact-dyadic × integer ratio → "
    "engine-identical before the display rounding",
)
def stats_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    p = (
        t["documents"]
        .select("source")
        .distinct()
        .select(
            "source",
            (
                (
                    F.conv(F.substring(F.md5("source"), 1, 13), 16, 10).cast(
                        "long"
                    )
                    + 1
                )
                / F.lit(4503599627370496.0)
            ).alias("p_value"),
        )
    )
    return bh_adjust(p, "source", "p_value")


@register(
    "quality_readability_fk",
    """
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                w -> len(w) > 0)) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
             AS n_sentences,
           round(0.39 * (len(list_filter(regexp_split_to_array(lower(text),
                          '[^a-z0-9]+'), w -> len(w) > 0))
                  / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                         AS DOUBLE))
                 + 11.8 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  / CAST(greatest(len(list_filter(regexp_split_to_array(
                          lower(text), '[^a-z0-9]+'), w -> len(w) > 0)), 1)
                         AS DOUBLE))
                 - 15.59, 6) AS fk_grade
    FROM documents
    """,
    doc="Flesch-Kincaid grade-level readability (0.39·words/sentences + "
    "11.8·syllables/words − 15.59, syllables ≈ vowel-group count — the "
    "standard corpus-curation heuristic): three regex counts per row, "
    "scan-speed codegen, zero shuffle; ratios are int/int divisions so "
    "both engines compute identical doubles before the display rounding",
)
def quality_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    low = F.lower(F.col("text"))
    n_words = F.size(
        F.filter(F.split(low, "[^a-z0-9]+"), lambda w: F.length(w) > 0)
    )
    n_syll = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), F.lit(0)))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    fk = (
        0.39 * (n_words / n_sent.cast("double"))
        + 11.8 * (n_syll / F.greatest(n_words, F.lit(1)).cast("double"))
        - 15.59
    )
    # split/regex counts are scan-side — spread (no-op at scale)
    return t["documents_spread"].select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
        n_sent.cast("long").alias("n_sentences"),
        F.round(fk, 6).alias("fk_grade"),
    )


@register(
    "stats_ks_test",
    """
    WITH pooled AS (
      SELECT value, CAST(event_type = 'click' AS INTEGER) AS is_a
      FROM events WHERE event_type IN ('click', 'view')
    ),
    vg AS (
      SELECT value, count(*) AS cnt, sum(is_a) AS cnt_a
      FROM pooled GROUP BY value
    ),
    tot AS (SELECT sum(cnt_a) AS n_a, sum(cnt - cnt_a) AS n_b FROM vg),
    cum AS (
      SELECT value,
             sum(cnt_a) OVER (ORDER BY value) AS ca,
             sum(cnt - cnt_a) OVER (ORDER BY value) AS cb
      FROM vg
    ),
    d AS (
      SELECT max(abs(ca * (SELECT n_b FROM tot) - cb * (SELECT n_a FROM tot)))
               AS d_num
      FROM cum
    )
    SELECT CAST(t.n_a AS BIGINT) AS n_a, CAST(t.n_b AS BIGINT) AS n_b,
           round(d.d_num / CAST(t.n_a * t.n_b AS DOUBLE), 6) AS d_stat,
           d.d_num / CAST(t.n_a * t.n_b AS DOUBLE) >
             1.358 * sqrt((t.n_a + t.n_b) / CAST(t.n_a * t.n_b AS DOUBLE))
             AS reject_05
    FROM d, tot t
    """,
    doc="two-sample Kolmogorov-Smirnov test (click vs view event "
    "values): D = max |ECDF_a − ECDF_b| computed EXACTLY as an integer "
    "cross-product max (ca·n_b − cb·n_a over the value-level "
    "aggregate — no float ECDFs, so the max cannot flip on rounding); "
    "reject at α=0.05 via the 1.358·sqrt((n_a+n_b)/(n_a·n_b)) "
    "asymptotic critical value; completes the nonparametric trio with "
    "stats_mannwhitney_u and stats_chi2_lang_source. For a continuous "
    "metric the value-level table ≈ row count, so the 100 TB path is "
    "operators/sketches.ks_d_kll (one-scan KLL CDFs, error-bound-gated "
    "against this exact form in tests/test_sketches.py)",
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    pooled = (
        t["events"]
        .filter(F.col("event_type").isin("click", "view"))
        .select("value", (F.col("event_type") == "click").cast("int").alias("is_a"))
    )
    vg = pooled.groupBy("value").agg(
        F.count("*").alias("cnt"), F.sum("is_a").alias("cnt_a")
    )
    tot = vg.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n_b"),
    ).collect()[0]
    if tot["n_a"] is None or not tot["n_a"] or not tot["n_b"]:
        # empty (or one-sided) input: schema-correct empty result
        return vg.select(
            F.lit(0).cast("long").alias("n_a"),
            F.lit(0).cast("long").alias("n_b"),
            F.lit(0.0).alias("d_stat"),
            F.lit(False).alias("reject_05"),
        ).limit(0)
    n_a, n_b = int(tot["n_a"]), int(tot["n_b"])
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = vg.select(
        F.sum("cnt_a").over(w).alias("ca"),
        F.sum(F.col("cnt") - F.col("cnt_a")).over(w).alias("cb"),
    )
    d_num = cum.agg(
        F.max(F.abs(F.col("ca") * n_b - F.col("cb") * n_a)).alias("d")
    )
    crit = 1.358 * float((n_a + n_b) / (n_a * n_b)) ** 0.5
    return d_num.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.round(F.col("d") / F.lit(float(n_a * n_b)), 6).alias("d_stat"),
        (F.col("d") / F.lit(float(n_a * n_b)) > crit).alias("reject_05"),
    )


@register(
    "stats_permutation_test",
    """
    WITH x AS (
      SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS v_fp,
             CAST(event_type = 'click' AS INTEGER) AS is_a
      FROM events WHERE event_type IN ('click', 'view')
    ),
    obs AS (
      SELECT sum(v_fp * is_a) / CAST(sum(is_a) AS DOUBLE)
             - sum(v_fp * (1 - is_a)) / CAST(sum(1 - is_a) AS DOUBLE) AS d_obs,
             sum(is_a) AS n_a, sum(1 - is_a) AS n_b
      FROM x
    ),
    rep AS (
      SELECT b.b, v_fp,
             CAST((CAST(('0x' || substring(md5(CAST(b.b AS VARCHAR) || ':' ||
                         CAST(event_id AS VARCHAR)), 1, 13)) AS BIGINT)
                   / 4503599627370496.0)
                  < (SELECT n_a / CAST(n_a + n_b AS DOUBLE) FROM obs)
                  AS INTEGER) AS pa
      FROM x CROSS JOIN (SELECT unnest(range(64)) AS b) b
    ),
    reps AS (
      SELECT b,
             sum(v_fp * pa) / CAST(sum(pa) AS DOUBLE)
             - sum(v_fp * (1 - pa)) / CAST(sum(1 - pa) AS DOUBLE) AS d
      FROM rep GROUP BY b
      HAVING sum(pa) > 0 AND sum(1 - pa) > 0
    )
    SELECT CAST(o.n_a AS BIGINT) AS n_a, CAST(o.n_b AS BIGINT) AS n_b,
           round(o.d_obs / 1000000.0, 6) AS diff_obs,
           CAST(count(*) AS BIGINT) AS n_replicates,
           round((1.0 + count(*) FILTER (abs(r.d) >= abs(o.d_obs)))
                 / (count(*) + 1.0), 6) AS p_value
    FROM reps r CROSS JOIN obs o
    GROUP BY o.n_a, o.n_b, o.d_obs
    """,
    doc="one-pass permutation test for the click-vs-view mean gap "
    "(random-relabel variant: per (replicate, row) md5 coin at the "
    "observed group proportion — the label permutation a single scan "
    "CAN do at 100 TB, where a true shuffle cannot; 64 replicates as "
    "map-side conditional integer sums, the bootstrap-CI machinery "
    "pointed at hypothesis testing); values fixed-point floored at "
    "1e-6 so every replicate sum is an EXACT int64 and the |d_r| >= "
    "|d_obs| comparisons are engine-identical; add-one p-value",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.session import ensure_min_partitions

    t = load_tables(spark, sf_dir)
    B = 64
    # the B-way replicate explode + md5 coin is SCAN-side compute (it
    # runs before any exchange), and a few-MB events parquet is one
    # split — without spreading, all B·N md5 evaluations land on one
    # core (measured 3.5 s → 1.1 s at sf0.1).  No-op at scale, where
    # the scan already has thousands of splits.
    x = ensure_min_partitions(
        t["events"]
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("v_fp"),
            (F.col("event_type") == "click").cast("int").alias("is_a"),
        )
    )
    obs = x.agg(
        F.sum(F.col("v_fp") * F.col("is_a")).alias("sa"),
        F.sum("is_a").alias("n_a"),
        F.sum(F.col("v_fp") * (1 - F.col("is_a"))).alias("sb"),
        F.sum(1 - F.col("is_a")).alias("n_b"),
    ).collect()[0]
    n_a, n_b = int(obs["n_a"] or 0), int(obs["n_b"] or 0)
    if not n_a or not n_b:
        return x.select(
            F.lit(0).cast("long").alias("n_a"),
            F.lit(0).cast("long").alias("n_b"),
            F.lit(0.0).alias("diff_obs"),
            F.lit(0).cast("long").alias("n_replicates"),
            F.lit(0.0).alias("p_value"),
        ).limit(0)
    d_obs = int(obs["sa"]) / float(n_a) - int(obs["sb"]) / float(n_b)
    thresh = n_a / float(n_a + n_b)
    rep = x.select(
        "event_id",
        "v_fp",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b"),
    ).select(
        "b",
        "v_fp",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("b").cast("string"),
                                F.col("event_id").cast("string"),
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long")
                / F.lit(4503599627370496.0)
            )
            < F.lit(thresh)
        )
        .cast("int")
        .alias("pa"),
    )
    reps = (
        rep.groupBy("b")
        .agg(
            F.sum(F.col("v_fp") * F.col("pa")).alias("s1"),
            F.sum("pa").alias("c1"),
            F.sum(F.col("v_fp") * (1 - F.col("pa"))).alias("s0"),
            F.sum(1 - F.col("pa")).alias("c0"),
        )
        .filter((F.col("c1") > 0) & (F.col("c0") > 0))
        .select(
            (
                F.col("s1") / F.col("c1").cast("double")
                - F.col("s0") / F.col("c0").cast("double")
            ).alias("d")
        )
    )
    return reps.agg(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        F.round(F.lit(d_obs) / 1_000_000.0, 6).alias("diff_obs"),
        F.count("*").cast("long").alias("n_replicates"),
        F.round(
            (
                F.lit(1.0)
                + F.sum((F.abs(F.col("d")) >= F.lit(abs(d_obs))).cast("int"))
            )
            / (F.count("*") + F.lit(1.0)),
            6,
        ).alias("p_value"),
    )


@register(
    "quality_classifier_calibration",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    feat AS (
      SELECT doc_id, term,
             (('0x' || substring(md5(term), 1, 4))::BIGINT % 4096) AS idx
      FROM toks
    ),
    w AS (SELECT doc_id, term, idx / 4096.0 - 0.5 AS w FROM feat),
    scored AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-(sum(w ORDER BY term) / count(*)))), 6)
               AS score
      FROM w GROUP BY doc_id
    ),
    labeled AS (
      SELECT s.doc_id,
             CAST(round(s.score * 1000000) AS BIGINT) AS s_fp,
             least(CAST(floor(s.score * 10) AS BIGINT), 9) AS bin,
             CAST(d.lang = 'en' AS INTEGER) AS y
      FROM scored s JOIN documents d USING (doc_id)
    ),
    tot AS (SELECT count(*) AS n FROM labeled)
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(sum(s_fp) / (count(*) * 1000000.0), 6) AS mean_score,
           round(sum(y) / CAST(count(*) AS DOUBLE), 6) AS pos_rate,
           round(abs(sum(s_fp) / (count(*) * 1000000.0)
                     - sum(y) / CAST(count(*) AS DOUBLE))
                 * count(*) / (SELECT n FROM tot), 6) AS ece_contrib
    FROM labeled GROUP BY bin
    """,
    doc="reliability diagram + per-bin ECE contribution for the hashed "
    "quality classifier against the lang='en' pseudo-label — the "
    "calibration audit run before a classifier's scores become "
    "sampling weights (an over-confident filter silently starves "
    "domains); per-bin means use fixed-point integer sums of the "
    "round-6 scores, so NO corpus-sized sorted fold is needed — exact "
    "int64 arithmetic at any group size (the scalable form of the "
    "sorted-fold determinism pattern)",
)
def quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.importance import hashed_linear_score

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"]
    scored = hashed_linear_score(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "score"
    )
    labeled = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        F.round(F.col("score") * 1_000_000).cast("long").alias("s_fp"),
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9)).alias("bin"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    n_tot = labeled.count()
    mean_score = F.sum("s_fp") / (F.count("*") * 1_000_000.0)
    pos_rate = F.sum("y") / F.count("*").cast("double")
    return labeled.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.round(mean_score, 6).alias("mean_score"),
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round(
            F.abs(mean_score - pos_rate) * F.count("*") / F.lit(float(n_tot)), 6
        ).alias("ece_contrib"),
    )


@register(
    "quality_l_diversity",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS grp_n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS l_distinct,
           count(DISTINCT user_id) < 3 AS at_risk
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    doc="l-diversity audit (Machanavajjhala et al. 2007) over the "
    "quasi-identifier pair (event_type, day) with user_id as the "
    "sensitive attribute: k-anonymity (quality_k_anonymity) only bounds "
    "class SIZE — a large class whose rows all belong to <3 distinct "
    "users still re-identifies by homogeneity; one groupBy with an "
    "exact distinct (map-side partial), flag at l=3",
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").cast("long").alias("grp_n"),
            F.countDistinct("user_id").cast("long").alias("l_distinct"),
        )
        .select(
            "event_type", "day", "grp_n", "l_distinct",
            (F.col("l_distinct") < 3).alias("at_risk"),
        )
    )


@register(
    "stats_ks_test_kll",
    None,  # sketch-approximate by design — gated against the exact
    # stats_ks_test within the published KLL rank-error bound in
    # tests/test_sketches.py at sf0.01 AND sf0.1
    doc="the 100 TB path for stats_ks_test made driver-visible: "
    "two-sample KS statistic over KLL(2048) sketch CDFs "
    "(operators/sketches.ks_d_kll) — ONE corpus scan folds both "
    "samples into mergeable sketches, D is evaluated on a 256-point "
    "probe grid; no value-level window, no corpus-sized shuffle; "
    "|D_kll − D_exact| ≤ 2·1.65/√k + 2/n_probe. Run-determinism "
    "boundary: KLL compaction coin-flips beyond ~k buffered items — "
    "±ε run jitter at sf0.1, exact (deterministic) at the sf0.01 "
    "gate; the bound test is the contract, not value equality",
)
def stats_ks_test_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.sketches import ks_d_kll

    t = load_tables(spark, sf_dir)
    pooled = t["events"].filter(F.col("event_type").isin("click", "view"))
    return ks_d_kll(pooled, F.col("event_type") == "click", "value")


@register(
    "stats_anova_oneway",
    """
    WITH g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(n_chars) AS BIGINT) AS s_g,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS q_g
      FROM documents GROUP BY lang
    )
    SELECT CAST(count(*) AS BIGINT) AS k_groups,
           CAST(sum(n_g) AS BIGINT) AS n_total,
           round(sum(CAST(s_g AS DOUBLE) * s_g / n_g)
                 - CAST(sum(s_g) AS DOUBLE) * sum(s_g) / sum(n_g), 6)
             AS ss_between,
           round(sum(q_g) - sum(CAST(s_g AS DOUBLE) * s_g / n_g), 6)
             AS ss_within,
           round(((sum(CAST(s_g AS DOUBLE) * s_g / n_g)
                   - CAST(sum(s_g) AS DOUBLE) * sum(s_g) / sum(n_g))
                  / (count(*) - 1))
                 / ((sum(q_g) - sum(CAST(s_g AS DOUBLE) * s_g / n_g))
                    / (sum(n_g) - count(*))), 6) AS f_stat
    FROM g
    """,
    doc="one-way ANOVA F test of doc length across language groups — "
    "completes the experiment-analysis family (welch = 2 groups, this = "
    "k groups): per-group exact int64 moments (n, Σx, Σx²) in ONE "
    "map-side-combined agg, SSB/SSW from the k-row group table via the "
    "computational formula SSB = Σs_g²/n_g − s²/n; floats appear only "
    "in the final k-term fold (round-6 absorbs the group fold spread, "
    "the corpus_kl precedent); one tiny shuffle, never a second scan",
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    g = t["documents"].groupBy("lang").agg(
        F.count("*").alias("n_g"),
        F.sum("n_chars").alias("s_g"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q_g"),
    )
    sb_part = F.sum(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"))
    s2_over_n = F.sum("s_g").cast("double") * F.sum("s_g") / F.sum("n_g")
    ssb = sb_part - s2_over_n
    ssw = F.sum("q_g") - sb_part
    k = F.count("*")
    n = F.sum("n_g")
    return g.agg(
        k.cast("long").alias("k_groups"),
        n.cast("long").alias("n_total"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
    )


@register(
    "stats_proportions_ztest",
    """
    WITH u AS (
      SELECT user_id,
             substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8' AS in_a,
             CASE WHEN count(*) FILTER (event_type = 'click')
                       > count(*) FILTER (event_type = 'view')
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id,
             substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
    ),
    m AS (
      SELECT CAST(count(*) FILTER (in_a) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (NOT in_a) AS BIGINT) AS n_b,
             CAST(sum(conv) FILTER (in_a) AS BIGINT) AS x_a,
             CAST(sum(conv) FILTER (NOT in_a) AS BIGINT) AS x_b
      FROM u
    )
    SELECT n_a, n_b, x_a, x_b,
           round(CAST(x_a AS DOUBLE) / nullif(n_a, 0), 6) AS p_a,
           round(CAST(x_b AS DOUBLE) / nullif(n_b, 0), 6) AS p_b,
           round((CAST(x_a AS DOUBLE) / nullif(n_a, 0)
                  - CAST(x_b AS DOUBLE) / nullif(n_b, 0))
                 / nullif(sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 0), 6) AS z_stat,
           abs((CAST(x_a AS DOUBLE) / nullif(n_a, 0)
                - CAST(x_b AS DOUBLE) / nullif(n_b, 0))
               / nullif(sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 0)) > 1.959964 AS reject_05
    FROM m
    """,
    doc="two-proportion pooled z-test on a user-level conversion flag "
    "(clicks > views — the synthetic table gives every user every "
    "event type, so an any-event flag would be degenerate p=1) between "
    "md5-content-addressed A/B arms — THE A/B primitive for rate "
    "metrics, beside welch (means), mwu (ranks), ks (distributions), "
    "chi2 (contingency), anova (k means).  One user-key agg then four "
    "exact int64 counters; every float derives from the same integers "
    "in both engines; 1.959964 = z_{0.975} as a shared literal; nullif "
    "guards honor the empty-partition contract",
)
def stats_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    u = (
        t["events"]
        .groupBy(
            "user_id",
            (
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
            ).alias("in_a"),
        )
        .agg(
            (
                F.count(F.when(F.col("event_type") == "click", 1))
                > F.count(F.when(F.col("event_type") == "view", 1))
            ).cast("int").alias("conv")
        )
    )
    m = u.agg(
        F.count(F.when(F.col("in_a"), 1)).cast("long").alias("n_a"),
        F.count(F.when(~F.col("in_a"), 1)).cast("long").alias("n_b"),
        # no .otherwise(0): sum over the bare when() skips non-arm rows
        # and returns NULL when an arm is empty — exactly DuckDB's
        # sum(conv) FILTER (in_a), so the degenerate empty-arm case
        # cannot hash-mismatch the oracle
        F.sum(F.when(F.col("in_a"), F.col("conv")))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(~F.col("in_a"), F.col("conv")))
        .cast("long")
        .alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.nullif(F.col("n_a"), F.lit(0))
    pb = F.col("x_b").cast("double") / F.nullif(F.col("n_b"), F.lit(0))
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / F.nullif(
        F.col("n_a") + F.col("n_b"), F.lit(0)
    )
    se = F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.nullif(F.col("n_a"), F.lit(0))
            + F.lit(1.0) / F.nullif(F.col("n_b"), F.lit(0))
        )
    )
    z = (pa - pb) / F.nullif(se, F.lit(0.0))
    return m.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.959964).alias("reject_05"),
    )


@register(
    "stats_mannwhitney_u_kll",
    None,  # sketch-approximate by design — gated against the exact
    # stats_mannwhitney_u effect size within the published KLL
    # rank-error bound in tests/test_sketches.py at sf0.01 AND sf0.1
    doc="the 100 TB path for stats_mannwhitney_u made driver-visible: "
    "P(X_a > X_b) = ∫F_b dF_a over KLL(2048) sketch CDFs by midpoint "
    "rule on a 256-point quantile grid (operators/sketches.mwu_p_kll) "
    "— ONE corpus scan, no value-level rank window; "
    "|P_kll − P_exact| ≤ 2·1.65/√k + 1/n_probe; pairs with "
    "stats_ks_test_kll as the sketch twins of the exact rank tests. "
    "Run-determinism boundary (same as the declared sketch regimes): "
    "KLL compaction coin-flips beyond ~k buffered items, so values "
    "carry ±ε run jitter at sf0.1 while the sf0.01 gate (n<k) is "
    "exact — the bound test, not value equality, is the contract",
)
def stats_mannwhitney_u_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.sketches import mwu_p_kll

    t = load_tables(spark, sf_dir)
    pooled = t["events"].filter(F.col("event_type").isin("click", "view"))
    return mwu_p_kll(pooled, F.col("event_type") == "click", "value")


@register(
    "quality_drift_trend",
    """
    WITH d AS (
      SELECT source, doc_id % 12 AS m,
             len(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS a,
             n_chars AS c
      FROM documents
    ),
    g AS (
      SELECT source, m,
             CAST(sum(a) AS BIGINT) AS sa, CAST(sum(c) AS BIGINT) AS sc
      FROM d GROUP BY source, m
    ),
    r AS (SELECT source, m, CAST(sa AS DOUBLE) / sc AS ratio FROM g)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_months,
           round((min({'m': m, 'r': ratio})).r, 6) AS r_first,
           round((max({'m': m, 'r': ratio})).r, 6) AS r_last,
           round((count(*) * sum(m * ratio) - sum(m) * sum(ratio))
                 / (count(*) * sum(CAST(m * m AS DOUBLE)) - CAST(sum(m) AS DOUBLE) * sum(m)),
                 6) AS slope_per_month
    FROM r GROUP BY source
    """,
    doc="per-source quality drift monitor: alphabetic-mass ratio per "
    "(source, ingestion month — doc_id%12 as the batch proxy, the "
    "corpus_token_drift convention) as a RATIO OF INTEGER SUMS "
    "(Σalpha/Σchars — exact cross-engine, unlike a mean of per-doc "
    "ratios whose corpus-sized float fold would drift), then an OLS "
    "slope per source over its ≤12-point month grid via the exact-"
    "moment recipe (agg_corr_regression precedent; round-6 absorbs the "
    "12-term fold).  The alert that catches a quality regression in "
    "ONE source's new batches before it pollutes the mixture",
)
def quality_drift_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "source",
        (F.col("doc_id") % 12).alias("m"),
        F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")).alias("a"),
        F.col("n_chars").alias("c"),
    )
    g = d.groupBy("source", "m").agg(
        F.sum("a").cast("long").alias("sa"), F.sum("c").cast("long").alias("sc")
    )
    r = g.select(
        "source", "m", (F.col("sa").cast("double") / F.col("sc")).alias("ratio")
    )
    key = F.struct(F.col("m").alias("m"), F.col("ratio").alias("r"))
    n = F.count("*")
    sxy = F.sum(F.col("m") * F.col("ratio"))
    sx = F.sum("m")
    sy = F.sum("ratio")
    sxx = F.sum((F.col("m") * F.col("m")).cast("double"))
    return r.groupBy("source").agg(
        n.cast("long").alias("n_months"),
        F.round(F.min(key)["r"], 6).alias("r_first"),
        F.round(F.max(key)["r"], 6).alias("r_last"),
        F.round(
            (n * sxy - sx * sy) / (n * sxx - sx.cast("double") * sx),
            6,
        ).alias("slope_per_month"),
    )


@register(
    "quality_ppl_buckets",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    stats AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT count(*) AS v, sum(c) AS tot FROM stats),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    contrib AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             tf.tf * ln((s.c + 1.0) / CAST(t.tot + t.v AS DOUBLE)) AS contrib
      FROM tf JOIN stats s USING (term) CROSS JOIN tot t
    ),
    ppl AS (
      SELECT doc_id, round(-sum(contrib ORDER BY term) / sum(tf), 6) AS logppl
      FROM contrib GROUP BY doc_id
    ),
    bucketed AS (
      SELECT d.lang, ppl.logppl,
             ntile(3) OVER (PARTITION BY d.lang
                            ORDER BY ppl.logppl, ppl.doc_id) AS tercile
      FROM ppl JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(logppl), 6) AS min_logppl,
           round(max(logppl), 6) AS max_logppl
    FROM bucketed GROUP BY lang, tercile
    """,
    doc="CCNet head/middle/tail perplexity bucketing (Wenzek et al., "
    "LREC'20 §4.3): per-language terciles of the unigram log-"
    "perplexity score, the standard keep-the-head corpus filter.  "
    "Reuses the order-deterministic logppl fold of "
    "quality_unigram_logppl (sorted-term sum on both engines), "
    "tercile assignment via ntile over the (logppl, doc_id) total "
    "order.  The per-lang ntile window is the only global-ish sort; "
    "its input is one row per document AFTER the heavy token "
    "aggregation, and at 100 TB the drop-in replacement is bucketing "
    "against pre-computed per-lang quantile boundaries "
    "(agg_percentiles_kll) — the exact window here is the oracle "
    "anchor for that twin",
)
def quality_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.importance import unigram_log_ppl

    t = load_tables(spark, sf_dir)
    ppl = unigram_log_ppl(t["documents_spread"], "doc_id", "text").select(
        F.col("id").alias("doc_id"), "logppl"
    )
    docs = t["documents"].select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("logppl", "doc_id")
    bucketed = ppl.join(docs, "doc_id").select(
        "lang", "logppl", F.ntile(3).over(w).alias("tercile")
    )
    bucket = (
        F.when(F.col("tercile") == 1, "head")
        .when(F.col("tercile") == 2, "middle")
        .otherwise("tail")
    )
    return bucketed.groupBy("lang", "tercile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.min("logppl"), 6).alias("min_logppl"),
        F.round(F.max("logppl"), 6).alias("max_logppl"),
    ).select(
        "lang",
        bucket.alias("bucket"),
        "n_docs",
        "min_logppl",
        "max_logppl",
    )


@register(
    "quality_ppl_buckets_kll",
    None,  # KLL quantile boundaries — approximate by design; bucket
    # counts are rank-error-gated against the exact twin in
    # tests/test_sketches.py
    doc="the 100 TB twin of quality_ppl_buckets: per-language tercile "
    "BOUNDARIES from one mergeable KLL(2048) sketch (single map-side-"
    "combinable agg — no per-doc ntile window), then every document "
    "buckets by two broadcast comparisons at scan speed.  Rank error "
    "≤~0.7% at k=2048, so bucket membership can differ from exact "
    "only within the quantile neighborhood — gated per (lang, bucket) "
    "against the exact window twin.  Same run-determinism boundary as "
    "every KLL twin here (compaction coin-flips once a language "
    "exceeds ~k buffered items — at sf0.1 'en' holds 2057 > 2048 and "
    "one boundary doc may swap buckets between runs), so the bound "
    "test, not value equality, is the contract; the row COUNT (lang × "
    "3 buckets) is stable.  This is the executable form at corpus "
    "scale: the sketch agg shuffles one sketch per lang, not one row "
    "per document",
)
def quality_ppl_buckets_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from knowledge_model_spark.operators.importance import unigram_log_ppl

    t = load_tables(spark, sf_dir)
    ppl = unigram_log_ppl(t["documents_spread"], "doc_id", "text").select(
        F.col("id").alias("doc_id"), "logppl"
    )
    scored = ppl.join(t["documents"].select("doc_id", "lang"), "doc_id")
    bounds = scored.groupBy("lang").agg(
        F.expr(
            "kll_sketch_get_quantile_double("
            "kll_sketch_agg_double(logppl, 2048), "
            "array(0.3333333333333333D, 0.6666666666666666D))"
        ).alias("__qs")
    ).select(
        "lang", F.col("__qs")[0].alias("q33"), F.col("__qs")[1].alias("q67")
    )
    bucket = (
        F.when(F.col("logppl") <= F.col("q33"), "head")
        .when(F.col("logppl") <= F.col("q67"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(broadcast(bounds), "lang")
        .select("lang", "logppl", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.min("logppl"), 6).alias("min_logppl"),
            F.round(F.max("logppl"), 6).alias("max_logppl"),
        )
    )


@register(
    "stats_spearman_rho",
    """
    WITH ranked AS (
      SELECT l_returnflag AS grp,
             CAST(2 * rank() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_quantity)
                  + count(*) OVER (PARTITION BY l_returnflag, l_quantity)
                  - 1 AS DECIMAL(19,0)) AS rx2,
             CAST(2 * rank() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice)
                  + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice)
                  - 1 AS DECIMAL(19,0)) AS ry2
      FROM lineitem
    ),
    moments AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(rx2) AS sx, sum(ry2) AS sy,
             sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
             sum(rx2 * ry2) AS sxy
      FROM ranked GROUP BY grp
    )
    SELECT grp, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS rho
    FROM moments
    """,
    doc="Spearman rank correlation with tie-corrected average ranks "
    "(rho = Pearson over midranks), per return-flag group — the "
    "monotone-association companion of agg_corr_regression (linear) "
    "and stats_mannwhitney_u (two-sample).  Midranks are kept as "
    "DOUBLED integers (2·rank + ties − 1, exact), moments accumulate "
    "as DECIMAL(19,0) products into exact decimal sums — "
    "order-independent with no int64 overflow at any corpus size — "
    "and only the final O(1)-magnitude rho touches floats (round-6 "
    "absorbs the decimal→double conversion ulp).  Two rank windows "
    "per group + one grouped aggregate; the group key is the shuffle",
)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]

    # r11 (guide §2.4): the quantity midrank comes from a (grp, value)
    # CELL table instead of a second full-row rank window — l_quantity
    # has ≤50 distinct values, so the cell table is ≤50·|groups| rows at
    # ANY corpus size and broadcasts back onto the price-ranked stream,
    # removing one 3-partition sort over the whole lineitem table.
    # Midrank identity: competition rank of v = 1 + Σ_{u<v} c_u, so
    # 2·rank + ties − 1 = 2·cumsum(c) − c + 1 over the value-ordered
    # cells; verified row-identical to the window form at sf0.1.
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cells = (
        li.groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_quantity").alias("q"),
        )
        .agg(F.count("*").alias("c"))
        .select(
            "grp",
            "q",
            (2 * F.sum("c").over(w_cum) - F.col("c") + 1)
            .cast("decimal(19,0)")
            .alias("rx2"),
        )
    )
    # r12 (guide §2.5 — range-partition the rank): the price midrank is
    # near-continuous (no small cell table possible), and a rank window
    # partitioned by l_returnflag alone sorts the WHOLE table in
    # |groups| = 3 tasks at any parallelism.  Split each group into
    # fixed-width price buckets: ranks within a (grp, bucket) window
    # plus the count of all earlier buckets give the identical global
    # competition rank (rank(v) = 1 + #{u < v} and every u < v is in an
    # earlier bucket or earlier within the same bucket; ties share one
    # bucket because equal values bucket equally), so
    # 2·rank + ties − 1 is unchanged row-for-row while the sort runs at
    # |groups|·|buckets|-way parallelism.  The per-bucket count table is
    # ≤ |groups|·|buckets| rows at any corpus size — broadcast.
    bkt = F.floor(F.col("l_extendedprice") / F.lit(4096.0)).cast("int")
    priced = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
        bkt.alias("b"),
    )
    w_off = (
        Window.partitionBy("grp")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        priced.groupBy("grp", "b")
        .agg(F.count("*").alias("c"))
        .select(
            "grp", "b", (F.sum("c").over(w_off) - F.col("c")).alias("off")
        )
    )
    w_r = Window.partitionBy("grp", "b").orderBy("p")
    w_t = Window.partitionBy("grp", "b", "p")
    ranked = (
        priced.join(F.broadcast(offsets), ["grp", "b"])
        .select(
            "grp",
            "q",
            (
                2 * (F.col("off") + F.rank().over(w_r))
                + F.count("*").over(w_t)
                - 1
            )
            .cast("decimal(19,0)")
            .alias("ry2"),
        )
        .join(F.broadcast(cells), ["grp", "q"])
        .select("grp", "rx2", "ry2")
    )
    m = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "grp",
        "n",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("rho"),
    )


@register(
    "stats_kendall_tau",
    """
    WITH cells AS (
      SELECT l_returnflag AS grp, l_quantity AS x, l_linenumber AS y,
             CAST(count(*) AS DECIMAL(19,0)) AS c
      FROM lineitem GROUP BY 1, 2, 3
    ),
    cd AS (
      SELECT a.grp,
             sum(CASE WHEN b.x > a.x AND b.y > a.y THEN a.c * b.c
                      ELSE CAST(0 AS DECIMAL(19,0)) END) AS conc,
             sum(CASE WHEN b.x > a.x AND b.y < a.y THEN a.c * b.c
                      ELSE CAST(0 AS DECIMAL(19,0)) END) AS disc
      FROM cells a JOIN cells b ON a.grp = b.grp
      GROUP BY a.grp
    ),
    nx AS (
      SELECT grp, sum(m * (m - 1) / 2) AS n1 FROM (
        SELECT grp, x, CAST(sum(c) AS DECIMAL(19,0)) AS m
        FROM cells GROUP BY grp, x) GROUP BY grp
    ),
    ny AS (
      SELECT grp, sum(m * (m - 1) / 2) AS n2 FROM (
        SELECT grp, y, CAST(sum(c) AS DECIMAL(19,0)) AS m
        FROM cells GROUP BY grp, y) GROUP BY grp
    ),
    nn AS (
      SELECT grp, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c) AS DECIMAL(19,0))
               * (CAST(sum(c) AS DECIMAL(19,0)) - 1) / 2 AS n0
      FROM cells GROUP BY grp
    )
    SELECT nn.grp, nn.n,
           round((CAST(cd.conc AS DOUBLE) - CAST(cd.disc AS DOUBLE))
                 / sqrt((CAST(nn.n0 AS DOUBLE) - CAST(nx.n1 AS DOUBLE))
                        * (CAST(nn.n0 AS DOUBLE) - CAST(ny.n2 AS DOUBLE))),
                 6) AS tau_b
    FROM nn JOIN cd USING (grp) JOIN nx USING (grp) JOIN ny USING (grp)
    """,
    doc="Kendall tau-b rank correlation (tie-corrected) per return-flag "
    "group over the DISCRETE pair (l_quantity, l_linenumber) via the "
    "contingency-table identity: concordant/discordant mass from the "
    "|cells|² cell-pair join — cost depends on value CARDINALITY "
    "(≤ 50×7 cells per group), never on row count, which is why this "
    "is the tau that runs at 100 TB.  All masses are exact decimal "
    "products of integer counts (order-free, no int64 overflow); only "
    "the O(1) tau touches floats, round-6 absorbing conversion ulp.  "
    "One cell groupBy (the only corpus-sized shuffle) + a tiny "
    "group-keyed self-join",
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cells = (
        t["lineitem"]
        .groupBy(
            F.col("l_returnflag").alias("grp"),
            F.col("l_quantity").alias("x"),
            F.col("l_linenumber").alias("y"),
        )
        .agg(F.count("*").cast("decimal(19,0)").alias("c"))
    )
    a, b = cells.alias("a"), cells.alias("b")
    cd = (
        a.join(b, F.col("a.grp") == F.col("b.grp"))
        .groupBy(F.col("a.grp").alias("grp"))
        .agg(
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y")),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0).cast("decimal(19,0)"))
            ).alias("conc"),
            F.sum(
                F.when(
                    (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y")),
                    F.col("a.c") * F.col("b.c"),
                ).otherwise(F.lit(0).cast("decimal(19,0)"))
            ).alias("disc"),
        )
    )
    def tie_mass(key, out):
        return (
            cells.groupBy("grp", key)
            .agg(F.sum("c").cast("decimal(19,0)").alias("m"))
            .groupBy("grp")
            .agg(F.sum(F.col("m") * (F.col("m") - 1) / 2).alias(out))
        )

    nx, ny = tie_mass("x", "n1"), tie_mass("y", "n2")
    nn = cells.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n"),
        (
            F.sum("c").cast("decimal(19,0)")
            * (F.sum("c").cast("decimal(19,0)") - 1)
            / 2
        ).alias("n0"),
    )
    out = (
        nn.join(cd, "grp").join(nx, "grp").join(ny, "grp")
    )
    conc, disc = F.col("conc").cast("double"), F.col("disc").cast("double")
    n0 = F.col("n0").cast("double")
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    return out.select(
        "grp",
        "n",
        F.round((conc - disc) / F.sqrt((n0 - n1) * (n0 - n2)), 6).alias("tau_b"),
    )


@register(
    "stats_linear_trend",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*x) AS BIGINT) AS sxx,
             CAST(sum(y*y) AS BIGINT) AS syy,
             CAST(sum(x*y) AS BIGINT) AS sxy
      FROM daily
    )
    SELECT n AS n_days,
           (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (sy - (n * sxy - sx * sy)
                   / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
             / CAST(n AS DOUBLE) AS intercept,
           CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
    FROM sums
    """,
    doc="ordinary-least-squares trend of the daily event-count series "
    "(volume drift detection for an ingest monitor): slope / intercept "
    "/ r² from the closed-form normal equations over EXACT integer "
    "moment sums (x = epoch day, y = count — Σx, Σx², Σxy all "
    "integer-exact and engine-identical; the only float ops are final "
    "divisions of identical longs, so no rounding is needed).  Scale "
    "shape: the corpus collapses to the daily rollup first (map-side "
    "combined groupBy bounded by the time span), then ONE tiny "
    "moment aggregate — the same two-pass-free recipe as "
    "events_acf_hourly",
)
def stats_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(F.unix_date(F.to_date("ts")).cast("long").alias("x"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    s = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    return s.select(
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n").cast("double")).alias(
            "intercept"
        ),
        (
            (num * num).cast("double")
            / (
                den
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("r2"),
    )


@register(
    "stats_benford_digits",
    """
    WITH d AS (
      SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit
      FROM orders
    ),
    counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           n / CAST(total AS DOUBLE) AS share,
           round(log10(1.0 + 1.0 / CAST(digit AS BIGINT)), 6) AS benford_p
    FROM counts CROSS JOIN tot
    """,
    doc="Benford's-law first-digit audit of order totals — the "
    "fabricated-data / unit-mixup screen a financial ingest runs: "
    "observed first-significant-digit distribution vs the Benford "
    "expectation log10(1+1/d).  The digit comes from floor() + "
    "integer-string prefix (NEVER a double→int cast, which truncates "
    "on Spark but rounds on DuckDB); shares are one exact division; "
    "the only transcendental is log10 of the nine digit literals, "
    "rounded to 6 dp to absorb any cross-libm ulp.  One map-side "
    "combined groupBy over the scan; 9 output rows",
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    counts = (
        t["orders"]
        .select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("long").cast("string"),
                1,
                1,
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        (F.col("n") / F.col("total").cast("double")).alias("share"),
        F.round(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("long")), 6
        ).alias("benford_p"),
    )


@register(
    "stats_theil_between",
    """
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS nd,
             CAST(sum(chars) AS BIGINT) AS ch
      FROM g
    )
    SELECT source, n_docs, chars,
           chars / CAST(ch AS DOUBLE) AS chars_share,
           n_docs / CAST(nd AS DOUBLE) AS docs_share,
           round((chars / CAST(ch AS DOUBLE))
                 * ln((chars / CAST(ch AS DOUBLE))
                      / (n_docs / CAST(nd AS DOUBLE))), 6) AS theil_contrib
    FROM g CROSS JOIN tot
    """,
    doc="between-group Theil T decomposition of character mass across "
    "sources: contrib_g = s_g·ln(s_g/p_g) where s_g is the source's "
    "share of characters and p_g its share of documents — positive "
    "when a source's docs are longer than average; Σ contribs = the "
    "between-source inequality index a corpus-mix report tracks.  "
    "Shares are exact divisions of exact longs; ln is the only "
    "transcendental, rounded to 6 dp (the logppl precedent).  Scale "
    "shape: one map-side combined groupBy to the source grain "
    "(≤ thousands of rows at any corpus size), totals broadcast back",
)
def stats_theil_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    g = t["documents"].groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    tot = g.agg(
        F.sum("n_docs").cast("long").alias("nd"),
        F.sum("chars").cast("long").alias("ch"),
    )
    cs = F.col("chars") / F.col("ch").cast("double")
    ds = F.col("n_docs") / F.col("nd").cast("double")
    return g.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars",
        cs.alias("chars_share"),
        ds.alias("docs_share"),
        F.round(cs * F.log(cs / ds), 6).alias("theil_contrib"),
    )


@register(
    "quality_herfindahl_index",
    """
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ),
    l AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl,
                 CAST(count(*) AS BIGINT) AS n_sources
          FROM c GROUP BY lang)
    SELECT c.lang, l.nl AS n_docs, l.n_sources,
           sum((c.n / CAST(l.nl AS DOUBLE)) * (c.n / CAST(l.nl AS DOUBLE))
               ORDER BY c.source) AS hhi
    FROM c JOIN l ON l.lang = c.lang
    GROUP BY c.lang, l.nl, l.n_sources
    """,
    doc="Herfindahl–Hirschman concentration of sources within each "
    "language — the diversity check behind 'is this lang slice all "
    "one crawl?' (HHI 1/n_sources = uniform, 1.0 = single source).  "
    "Each share is one exact division; squares and the per-lang sum "
    "fold in sorted source order on BOTH engines (F.aggregate over "
    "array_sort vs sum(... ORDER BY source)) so float addition order "
    "is fixed — no rounding needed.  Scale shape: one groupBy to the "
    "(lang, source) grain, then a per-lang fold over its ≤|sources| "
    "cells; both reuse the lang-keyed shuffle",
)
def quality_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = t["documents"].groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n")
    )
    per_lang = c.groupBy("lang").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_sources"),
        F.array_sort(F.collect_list(F.struct("source", "n"))).alias("cells"),
    )
    share = lambda x: x["n"] / F.col("n_docs").cast("double")  # noqa: E731
    return per_lang.select(
        "lang",
        "n_docs",
        "n_sources",
        F.aggregate(
            F.col("cells"),
            F.lit(0.0),
            lambda acc, x: acc + share(x) * share(x),
        ).alias("hhi"),
    )


@register(
    "sample_systematic_thin",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents) WHERE rn % 10 = 1
    """,
    doc="systematic 1-in-10 thinning, stratified by language: rank each "
    "stratum by md5-of-key (content-addressed, so membership is stable "
    "across runs / partitionings / corpus growth within a stratum "
    "snapshot) and keep every 10th — the cheap corpus downsample that "
    "preserves stratum proportions exactly (vs Bernoulli sampling's "
    "binomial noise).  One row_number window partitioned BY LANG (no "
    "global window); the md5 priority is the same literal chain on "
    "both engines",
)
def sample_systematic_thin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t["documents"]
        .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
        .select("doc_id", "lang")
    )


@register(
    "quality_compression_ratio",
    None,  # zlib is not SQL-expressible in the oracle engine; exact
    # pure-python recompute parity + partitioning determinism in
    # tests/test_quality_extras.py
    doc="DEFLATE compression ratio as a quality/repetition signal — the "
    "production filter (RefinedWeb/Dolma class) that quality_char_"
    "entropy only proxies: templated, repetitive, or machine-generated "
    "text compresses far below natural prose, and the ratio needs no "
    "vocabulary or language model.  zlib level 6 on UTF-8 bytes, "
    "deterministic by construction (zlib output is a pure function of "
    "input bytes at a fixed level/strategy).  Emits raw/compressed "
    "byte counts as exact longs and the ratio as ONE division so "
    "downstream thresholds can re-derive either way.  Scale shape: ONE "
    "mapInPandas over the documents scan — no shuffle, cost linear in "
    "corpus bytes, exactly the shape of the tokenizer passes",
)
def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"].select("doc_id", "text")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_bytes": [], "n_compressed": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                raw = str(text).encode("utf-8")
                out["doc_id"].append(int(did))
                out["n_bytes"].append(len(raw))
                out["n_compressed"].append(len(zlib.compress(raw, 6)))
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="int64") for k, v in out.items()}
            )

    stats = docs.mapInPandas(
        kernel, "doc_id long, n_bytes long, n_compressed long"
    )
    return stats.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.when(
            F.col("n_bytes") > 0,
            F.col("n_compressed") / F.col("n_bytes").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("compression_ratio"),
    )
