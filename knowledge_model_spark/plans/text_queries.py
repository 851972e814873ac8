"""Text pipeline queries over the documents table — oracle-checked.

Covers the reference's cleaning/chunking battery (SURVEY.md §2.8) and the
north-star text-analysis operators (token counting, language ID, quality
scoring, fingerprinting).  Every regex here is RE2-compatible so the
DuckDB oracle can replicate it exactly (no backrefs/lookarounds in
oracle-checked paths); the one backref cleaner (duplicate-punctuation
collapse) is expanded per-character in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from knowledge_model_spark.functions.chunking import explode_passages
from knowledge_model_spark.functions.text_analysis import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from knowledge_model_spark.plans import register
from knowledge_model_spark.session import load_tables

# DuckDB replication of normalize_for_dedup (lower → strip non-alnum → trim).
_NORM_SQL = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"


@register(
    "text_split_passages",
    f"""
    WITH cleaned AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents
    ),
    starts AS (
      SELECT doc_id, t,
             unnest(range(0, greatest(len(t), 1), 250)) AS char_start
      FROM cleaned
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start) - 1 AS BIGINT)
             AS chunk_index,
           substr(t, char_start + 1, 300) AS chunk_text,
           char_start,
           char_start + len(substr(t, char_start + 1, 300)) AS char_end
    FROM starts
    WHERE len(substr(t, char_start + 1, 300)) > 0
    """,
    doc="char-window passage split 300/50 (reference: passage_splitter.py:16-28) — "
    "pure SQL sequence+transform+posexplode",
)
def text_split_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cleaned = t["documents_spread"].select(
        "doc_id", F.trim(F.regexp_replace("text", r"\s+", " ")).alias("t")
    )
    out = explode_passages(cleaned, "t", ["doc_id"], size=300, overlap=50)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        "chunk_text",
        F.col("char_start").cast("long").alias("char_start"),
        F.col("char_end").cast("long").alias("char_end"),
    )


@register(
    "text_token_stats",
    """
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> len(w) > 0))
             AS n_tokens,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
             AS n_bpe_ish,
           len(text) AS n_chars_actual,
           n_chars
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex tokenizer (north-star text op)",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["documents_spread"].select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_ish"),
        F.length("text").cast("long").alias("n_chars_actual"),
        "n_chars",
    )


@register(
    "text_lang_id",
    """
    WITH words AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿäöüß]+'),
                         w -> len(w) > 0) AS ws
      FROM documents
    ),
    hits AS (
      SELECT doc_id, lang,
        len(list_filter(ws, w -> list_contains(['der','die','und','nicht','ist'], w))) AS de,
        len(list_filter(ws, w -> list_contains(['the','and','of','to','in'], w)))      AS en,
        len(list_filter(ws, w -> list_contains(['el','la','que','de','los'], w)))      AS es,
        len(list_filter(ws, w -> list_contains(['le','la','les','des','est'], w)))     AS fr
      FROM words
    ),
    unp AS (
      SELECT doc_id, lang, pred, h
      FROM hits UNPIVOT (h FOR pred IN (de, en, es, fr))
    ),
    best AS (
      SELECT doc_id, lang, pred, h,
             row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, pred DESC) AS r
      FROM unp
    )
    SELECT doc_id, lang,
           CASE WHEN h > 0 THEN pred ELSE 'und' END AS pred_lang
    FROM best WHERE r = 1
    """,
    doc="language ID by marker-word argmax (ties → lexicographically last lang)",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["documents_spread"].select("doc_id", "lang", lang_id(F.col("text")).alias("pred_lang"))


@register(
    "text_quality_score",
    """
    SELECT doc_id,
           round((least(len(text) / 500.0, 1.0)
                  + CASE WHEN len(text) > 0
                         THEN len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / len(text)
                         ELSE 0.0 END
                  + CASE WHEN len(text) > 0
                         THEN 1.0 - least(len(regexp_replace(text, '[^!?.,;:]', '', 'g')) * 10.0 / len(text), 1.0)
                         ELSE 0.0 END) / 3.0, 6) AS quality
    FROM documents
    """,
    doc="surface-statistics quality score (length/alpha/punctuation ratios)",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["documents_spread"].select("doc_id", quality_score(F.col("text")).alias("quality"))


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp
    FROM documents
    """,
    doc="md5 content fingerprint of normalized text (rolling-hash analog; "
    "md5 identical across Spark and DuckDB)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["documents_spread"].select("doc_id", fingerprint(F.col("text")).alias("fp"))


def _build_clean_battery_oracle() -> str:
    """Generate the DuckDB twin of the cleaning chain programmatically so
    both sides stay in lockstep (same order, same RE2-safe patterns)."""

    def rr(inner: str, pat: str, rep: str) -> str:
        return f"regexp_replace({inner}, '{pat}', '{rep}', 'g')"

    def split1(inner: str, pat: str) -> str:
        return f"regexp_split_to_array({inner}, '{pat}')[1]"

    quotes_from = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0"
    quotes_to = "''''" + '""' + "-- "  # two escaped quotes, two dquotes, dashes, space
    e = f"translate(text, '{quotes_from}', '{quotes_to}')"
    e = rr(e, "<[^>]+>", " ")
    e = rr(e, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    e = rr(e, r"(\w)-\s*\n\s*(\w)", r"\1\2")
    e = rr(e, "\\[\\s*\\d+(\\s*[,–-]\\s*\\d+)*\\s*\\]", "")
    e = rr(e, r"(?i)\(\s*(fig(ure)?|table)\.?\s*[\w.\-]*\s*\)", "")
    e = split1(e, r"(?i)\b(references|bibliography|literature\s+cited)\b")
    e = split1(
        e,
        r"(?i)\b(methods?|acknowledg(e)?ments?|funding|conflicts?\s+of\s+interest|competing\s+interests)\b",
    )
    for ch in "!?.,;:":
        e = rr(e, "[\\" + ch + "]{2,}", ch)
    e = rr(e, r"\(\s*[A-Z][A-Za-z\-]+(\s+et\s+al\.?)?,?\s+(19|20)\d{2}[a-z]?\s*\)", "")
    e = rr(e, r"\s+", " ")
    return f"SELECT doc_id, trim({e}) AS cleaned FROM documents"


@register(
    "text_clean_battery",
    _build_clean_battery_oracle(),
    doc="full reference cleaning battery (text_cleaner.py:105-133) as nested "
    "regexp_replace chain; backref-free so the oracle matches exactly",
)
def text_clean_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions import text_cleaning as tc

    t = load_tables(spark, sf_dir)
    c = F.col("text")
    c = tc.normalize_quotes(c)
    c = tc.strip_html_tags(c)
    c = tc.strip_control_chars(c)
    c = tc.rejoin_hyphen_linebreaks(c)
    c = tc.strip_citation_tags(c)
    c = tc.strip_figure_refs(c)
    c = tc.truncate_at_references(c)
    c = tc.truncate_at_backmatter(c)
    # duplicate-punctuation collapse, expanded per char to stay RE2-safe
    for ch in "!?.,;:":
        esc = "\\" + ch if ch in ".?" else ch
        c = F.regexp_replace(c, f"[{esc}]{{2,}}", ch)
    c = tc.strip_author_year_citations(c)
    c = tc.collapse_whitespace(c)
    return t["documents_spread"].select("doc_id", c.alias("cleaned"))


@register(
    "text_length_histogram",
    """
    SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars
    FROM documents GROUP BY 1
    """,
    doc="corpus length histogram (corpus-stats north-star op)",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["documents_spread"]
        .groupBy(F.floor(F.col("n_chars") / 100).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


@register(
    "text_source_lang_matrix",
    """
    SELECT source, lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY source, lang
    """,
    doc="two-dim corpus composition stats",
)
def text_source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["documents_spread"]
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").cast("long").alias("chars"))
    )


@register(
    "text_accent_fold",
    """
    SELECT doc_id,
           strip_accents('Prüfung Çafé naïve ' || substr(text, 1, 40)) AS folded
    FROM documents WHERE doc_id < 100
    """,
    doc="unicode accent folding (NFD → strip combining → NFC; the "
    "reference's unidecode/NFKD fallback, text_cleaner.py:25-36) — "
    "pandas UDF, semantics matched to DuckDB strip_accents",
)
def text_accent_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.text_cleaning import accent_fold

    t = load_tables(spark, sf_dir)
    return (
        t["documents_spread"]
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            accent_fold(
                F.concat(F.lit("Prüfung Çafé naïve "), F.substring("text", 1, 40))
            ).alias("folded"),
        )
    )


@register(
    "text_xml_extract",
    """
    SELECT doc_id,
           trim(substr(text, 1, 60)) || chr(10) || chr(10)
             || trim(substr(text, 61, 60)) AS paragraphs
    FROM documents WHERE doc_id < 100 AND len(text) > 120
    """,
    doc="XML node extraction (reference: fetch_pubmed.py:222-272 — "
    "`.//body//p` texts joined by blank lines) via xml.etree pandas UDF; "
    "oracle reconstructs the expected join from the same source columns",
)
def text_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.xml_extract import xml_text_join

    t = load_tables(spark, sf_dir)
    xml = F.concat(
        F.lit("<article><body><sec><p>"),
        F.substring("text", 1, 60),
        F.lit("</p></sec><sec><p>"),
        F.substring("text", 61, 60),
        F.lit("</p></sec></body></article>"),
    )
    return (
        t["documents_spread"]
        .filter((F.col("doc_id") < 100) & (F.length("text") > 120))
        .select(
            "doc_id",
            xml_text_join(xml, ".//body//p").alias("paragraphs"),
        )
    )


def _winnow_horner_sql(k: int = 7, p: int = 1_000_000_007, b: int = 257) -> str:
    expr = "c[i]"
    for j in range(1, k):
        expr = f"(({expr} * {b} + c[i + {j}]) % {p})"
    return expr


@register(
    "text_winnow_fingerprint",
    f"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents
    ),
    codes AS (
      SELECT doc_id,
             CASE WHEN len(t) = 0 THEN []
                  ELSE list_transform(generate_series(1, len(t)),
                                      i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))
             END AS c
      FROM norm
    ),
    hs AS (
      SELECT doc_id,
             CASE WHEN len(c) >= 7
                  THEN list_transform(generate_series(1, len(c) - 6),
                                      i -> {_winnow_horner_sql()})
                  ELSE [] END AS h
      FROM codes
    ),
    mins AS (
      SELECT doc_id,
             CASE WHEN len(h) >= 4
                  THEN list_transform(generate_series(1, len(h) - 3),
                                      i -> least(h[i], h[i+1], h[i+2], h[i+3]))
                  ELSE [] END AS m
      FROM hs
    ),
    fps AS (SELECT doc_id, list_distinct(m) AS f FROM mins)
    SELECT doc_id,
           CAST(len(f) AS BIGINT) AS n_fps,
           CAST(CASE WHEN len(f) = 0 THEN 0
                     ELSE list_aggregate(f, 'sum') % 1000000007 END AS BIGINT) AS fp_digest,
           list_aggregate(f, 'min') AS fp_min,
           list_aggregate(f, 'max') AS fp_max
    FROM fps
    """,
    doc="winnowing document fingerprints (Schleimer et al. 2003, the MOSS "
    "scheme; SURVEY §2.11 'rolling hash' fingerprinting): char-7-gram "
    "rolling polynomial hashes → minimum of every 4-hash window → distinct "
    "fingerprint set, reduced to scalar digest/count/min/max — any shared "
    "substring of length ≥ 10 yields a shared fingerprint, which whole-doc "
    "md5 cannot detect; staged checkpointed projections keep each HOF "
    "lambda reading a materialized array",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.text_analysis import (
        WINNOW_P,
        bind1,
        winnow_fingerprints,
    )

    t = load_tables(spark, sf_dir)
    # one collapse-safe expression (bind1 chaining) replaces the former
    # three staged checkpoint jobs; the fingerprint array is also bound
    # once so the four scalar reductions share a single evaluation
    out = bind1(
        winnow_fingerprints(F.col("text"), 7, 4),
        lambda f: F.struct(
            F.size(f).cast("long").alias("n_fps"),
            F.aggregate(
                f, F.lit(0).cast("long"), lambda acc, x: (acc + x) % WINNOW_P
            ).alias("fp_digest"),
            F.array_min(f).alias("fp_min"),
            F.array_max(f).alias("fp_max"),
        ),
    )
    return t["documents_spread"].select("doc_id", out.alias("o")).select(
        "doc_id", "o.n_fps", "o.fp_digest", "o.fp_min", "o.fp_max"
    )


@register(
    "text_boilerplate_scrub",
    """
    WITH nd AS (SELECT count(*) AS n FROM documents),
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS u
      FROM documents
    ),
    hot AS (
      SELECT u FROM tok, nd GROUP BY u, nd.n
      HAVING count(DISTINCT doc_id) >= 0.8 * any_value(nd.n)
    ),
    hl AS (SELECT coalesce(list(u), []) AS hs FROM hot)
    SELECT d.doc_id,
           coalesce(array_to_string(
             list_filter(list_filter(string_split(d.text, ' '), x -> len(x) > 0),
                         x -> NOT list_contains(hs, x)), ' '), '') AS scrubbed,
           CAST(len(list_filter(string_split(d.text, ' '), x -> len(x) > 0))
                - len(list_filter(list_filter(string_split(d.text, ' '), x -> len(x) > 0),
                                  x -> NOT list_contains(hs, x))) AS BIGINT) AS n_dropped
    FROM documents d, hl
    """,
    doc="C4-style cross-document boilerplate removal (SURVEY §2.11; "
    "reference's single-answer bullet dedup main.py:283-291 generalized "
    "corpus-wide): units in ≥60% of documents are dropped from every "
    "document — hot set is provably ≤ mean_units/frac values, collected "
    "once and inlined as a literal-array predicate so the scrub pass is "
    "scan-speed with zero corpus shuffle",
)
def text_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.boilerplate import scrub_frequent_units

    t = load_tables(spark, sf_dir)
    return scrub_frequent_units(
        t["documents_spread"], "doc_id", "text", sep=" ", min_df_frac=0.8
    ).select("doc_id", "scrubbed", "n_dropped")


@register(
    "udtf_sentence_split",
    r"""
    WITH p AS (
      SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){4}\S+) ', '\1. ', 'g') AS t
      FROM documents
    ),
    s AS (SELECT doc_id, regexp_extract_all(t, '[^.!?]+[.!?]*') AS l FROM p)
    SELECT doc_id,
           CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS sentence_index,
           unnest(l) AS sentence
    FROM s
    """,
    doc="genuine Python UDTF (Spark 4 table function) applied via SQL "
    "LATERAL: sentence-split each document (periods injected every 5 "
    "words so the synthetic corpus actually has boundaries) — the "
    "§2.10 table-function extension point; hot-path splitters remain "
    "the vectorized posexplode/pandas-UDF chunkers",
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.udtf import register_udtfs

    load_tables(spark, sf_dir)  # registers the documents view
    register_udtfs(spark)
    return spark.sql(
        r"""
        SELECT d.doc_id,
               CAST(s.sentence_index AS BIGINT) AS sentence_index,
               s.sentence
        FROM documents d,
        LATERAL split_sentences(
          regexp_replace(d.text, '((?:\\S+ ){4}\\S+) ', '$1. ')) s
        """
    )


# Frozen output of learn_bpe_merges(documents sample, n_merges=20) at
# sf0.01 — the merge table ships as literals so the oracle can state the
# identical replace chain (learning itself is the Spark loop in
# functions/tokenize.py, exercised in tests/test_tokenize.py).
_BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
]


def _bpe_oracle() -> str:
    from knowledge_model_spark.functions.tokenize import bpe_sql

    expr = bpe_sql("text", _BPE_MERGES)
    return f"""
    SELECT doc_id,
           len({expr}) AS n_tok,
           array_to_string(list_slice({expr}, 1, 10), '|') AS preview
    FROM documents
    """


@register(
    "text_bpe_tokenize",
    _bpe_oracle(),
    doc="BPE subword tokenization as pure whole-stage-codegen string "
    "expressions: boundary-safe chained replaces over space-separated "
    "symbols, merge table learned by the distributed greedy loop "
    "(functions/tokenize.py::learn_bpe_merges — one pair-count shuffle "
    "per round, driver holds only the table) and frozen as literals so "
    "both engines run the identical chain; zero Python on the apply path",
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.tokenize import bpe_tokens_expr

    t = load_tables(spark, sf_dir)
    toks = bpe_tokens_expr("text", _BPE_MERGES)
    return t["documents"].select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.array_join(F.slice(toks, 1, 10), "|").alias("preview"),
    )


# Deterministic messy-URL synthesis shared by the Spark query and the
# DuckDB oracle: the documents table has no URL column, so one is
# derived from (doc_id, source, lang) with every normalization hazard
# present — mixed case, www, default ports, missing paths, tracking
# params, fragments.
_URL_SPARK = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'https://sub.' END || "
    "source || '.Example.COM' || "
    "CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END || "
    "CASE WHEN doc_id % 4 = 0 THEN '' "
    "     ELSE '/Papers/' || CAST(doc_id AS STRING) END || "
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=' || lang "
    "     WHEN doc_id % 3 = 1 THEN '?ref=' || lang || '&gclid=abc123#sec-2' "
    "     ELSE '' END"
)
_URL_DUCK = _URL_SPARK.replace("AS STRING", "AS VARCHAR")


@register(
    "text_url_normalize",
    f"""
    WITH raw AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    n0 AS (SELECT doc_id, url,
             lower(regexp_extract(url, '^([^/?#]*://[^/?#]*)', 1))
               || regexp_replace(url, '^[^/?#]*://[^/?#]*', '') AS u
           FROM raw),
    n1 AS (SELECT doc_id, url, regexp_replace(u, '^([a-z]+://)www\\.', '\\1') AS u FROM n0),
    n2 AS (SELECT doc_id, url, regexp_replace(u, '^(http://[^/:?#]+):80([/?#].*)?$', '\\1\\2') AS u FROM n1),
    n3 AS (SELECT doc_id, url, regexp_replace(u, '^(https://[^/:?#]+):443([/?#].*)?$', '\\1\\2') AS u FROM n2),
    n4 AS (SELECT doc_id, url, regexp_replace(u, '#.*$', '') AS u FROM n3),
    n5 AS (SELECT doc_id, url, regexp_replace(u, '[?&](utm_[a-z0-9]+|fbclid|gclid)=[^&#]*', '', 'g') AS u FROM n4),
    n6 AS (SELECT doc_id, url, regexp_replace(u, '^([^?]*)&', '\\1?') AS u FROM n5),
    n7 AS (SELECT doc_id, url, regexp_replace(u, '[?&]$', '') AS u FROM n6),
    n8 AS (SELECT doc_id, url, regexp_replace(u, '^([a-z]+://[^/?#]+)$', '\\1/') AS u FROM n7),
    n9 AS (SELECT doc_id, url, regexp_replace(u, '^([a-z]+://[^/?#]+)\\?', '\\1/?') AS u FROM n8),
    fin AS (
      SELECT doc_id, u AS url_norm,
             regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) AS host
      FROM n9)
    SELECT doc_id, url_norm, host,
           CASE WHEN regexp_matches(host, '\\.[^.]+\\.')
                THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                ELSE host END AS domain
    FROM fin
    """,
    doc="URL normalization battery (functions/url.py): lowercase "
    "scheme+host, strip www/default ports/fragments/tracking params, "
    "default path; plus host and registered-domain extraction — the "
    "crawl-pipeline canonical key everything dedups and mixes on; pure "
    "RE2-safe regexp expressions, scan-speed, identical text in both "
    "engines",
)
def text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.url import (
        url_host,
        url_normalize,
        url_registered_domain,
    )

    t = load_tables(spark, sf_dir)
    raw = t["documents"].select("doc_id", F.expr(_URL_SPARK).alias("url"))
    return raw.select(
        "doc_id",
        url_normalize(F.col("url")).alias("url_norm"),
        url_host(F.col("url")).alias("host"),
        url_registered_domain(F.col("url")).alias("domain"),
    )


def _cdc_chunk_cte() -> str:
    """The shared DuckDB CTE computing content-defined chunk rows —
    reused by the chunker and the chunk-level dedup oracle."""
    return f"""
    WITH codes AS (
      SELECT doc_id, text AS t,
             CASE WHEN len(text) = 0 THEN []
                  ELSE list_transform(generate_series(1, len(text)),
                                      i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))
             END AS c
      FROM documents
    ),
    hs AS (
      SELECT doc_id, t,
             CASE WHEN len(c) >= 8
                  THEN list_transform(generate_series(1, len(c) - 7),
                                      i -> {_winnow_horner_sql(k=8)})
                  ELSE [] END AS h
      FROM codes
    ),
    cuts AS (
      SELECT doc_id, t,
             list_transform(
               list_filter(generate_series(1, greatest(len(h), 1)),
                           i -> i <= len(h) AND h[i] % 512 = 0),
               i -> i + 7) AS cut
      FROM hs
    ),
    segs AS (
      SELECT doc_id, t,
             list_filter(
               list_zip(list_concat([0], cut),
                        list_concat(cut, [CAST(len(t) AS BIGINT)])),
               se -> se[2] > se[1]) AS seg
      FROM cuts
    ),
    expl AS (
      SELECT doc_id,
             CAST(generate_subscripts(seg, 1) - 1 AS INTEGER) AS chunk_index,
             unnest(seg) AS se, t
      FROM segs
    ),
    chunks AS (
      SELECT doc_id, chunk_index,
             CAST(se[1] AS INTEGER) AS char_start,
             CAST(se[2] - se[1] AS INTEGER) AS chunk_len,
             md5(substring(t, CAST(se[1] AS INTEGER) + 1,
                           CAST(se[2] - se[1] AS INTEGER))) AS chunk_fp
      FROM expl
    )"""


@register(
    "chunk_content_defined",
    _cdc_chunk_cte()
    + """
    SELECT doc_id, chunk_index, char_start, chunk_len, chunk_fp FROM chunks
    """,
    doc="content-defined chunking (LBFS/rsync-style CDC, Muthitacharoen "
    "et al. SOSP'01): cut where the rolling 8-gram hash ≡ 0 mod 512 — "
    "boundaries move WITH the content, so an insertion re-chunks only "
    "its neighborhood while fixed windows shift every downstream chunk; "
    "the chunk-fingerprint column is the chunk-level dedup join key. "
    "Pure JVM array expressions over the staged winnow hash chain.",
)
def chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.chunking import content_defined_chunks

    t = load_tables(spark, sf_dir)
    return content_defined_chunks(
        t["documents_spread"], "text", ["doc_id"], k=8, divisor=512
    )


@register(
    "dedup_cdc_chunks",
    _cdc_chunk_cte()
    + """
    SELECT chunk_fp,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(max(chunk_len) AS INTEGER) AS chunk_len,
           string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
                      ORDER BY CAST(doc_id AS VARCHAR)) AS doc_list
    FROM chunks
    GROUP BY chunk_fp
    HAVING count(DISTINCT doc_id) > 1
    """,
    doc="chunk-level cross-document dedup over CONTENT-DEFINED boundaries "
    "— the application CDC chunking exists for: shared passages surface "
    "as equal chunk fingerprints even when their surrounding documents "
    "differ and their char offsets shift (the fixed-span variant "
    "dedup_spans_first_seen misses any shared passage that isn't "
    "100-char-aligned). One groupBy on the uniform md5 fingerprint — "
    "no skew, candidates ∝ duplicated content, never corpus²; at 100 TB "
    "this is the rsync/LBFS storage-dedup shape applied to corpus text.",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.chunking import content_defined_chunks

    t = load_tables(spark, sf_dir)
    chunks = content_defined_chunks(
        t["documents_spread"], "text", ["doc_id"], k=8, divisor=512
    )
    return (
        chunks.groupBy("chunk_fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("chunk_len").alias("chunk_len"),
            F.array_join(
                F.sort_array(F.collect_set(F.col("doc_id").cast("string"))), ","
            ).alias("doc_list"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "text_pmi_cooccurrence",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                w -> len(w) >= 3)) AS term
      FROM documents
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    dfs AS (SELECT term, count(*) AS df FROM toks GROUP BY 1 HAVING count(*) >= 50),
    f AS (SELECT t.doc_id, t.term, d.df FROM toks t JOIN dfs d USING (term)),
    p AS (
      SELECT a.term AS term_a, b.term AS term_b,
             max(a.df) AS df_a, max(b.df) AS df_b, count(*) AS c_ab
      FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2 HAVING count(*) >= 20
    )
    SELECT term_a, term_b,
           CAST(c_ab AS BIGINT) AS c_ab,
           CAST(df_a AS BIGINT) AS df_a,
           CAST(df_b AS BIGINT) AS df_b,
           round(ln(c_ab * CAST(n.n_docs AS DOUBLE) / (df_a * CAST(df_b AS DOUBLE))), 6)
             AS pmi
    FROM p, n
    """,
    doc="pointwise mutual information over document-level term "
    "co-occurrence (collocation mining / topic-signal analysis): "
    "PMI(a,b) = ln(P(a,b)/(P(a)P(b))) from EXACT integer counts — "
    "floats only in the final scalar formula (the repo's exact-moment "
    "recipe). Scale: the df cut (stop-vocab + rare-term drop) bounds "
    "the inverted-index self-join exactly like ngram-Jaccard's max_df "
    "lever — pair candidates ∝ Σ per-doc kept-term², never vocab²; "
    "the pair agg is map-side-combinable on (term_a, term_b).",
)
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # localCheckpoint: the tokenized incidence table feeds THREE plan
    # branches (n_docs scalar, df table, pair join) — without a barrier
    # the explode+distinct subtree re-evaluates per consumer (3 corpus
    # scans at 100 TB); with it, one materialization.
    toks = (
        t["documents_spread"]
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"),
                    lambda w: F.length(w) >= 3,
                )
            ).alias("term"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_docs = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfs = toks.groupBy("term").agg(F.count("*").alias("df")).filter(F.col("df") >= 50)
    f = toks.join(F.broadcast(dfs), "term")
    a = f.select(F.col("doc_id"), F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    b = f.select(F.col("doc_id"), F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pairs = (
        a.join(b, ["doc_id"])
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(
            F.max("df_a").alias("df_a"),
            F.max("df_b").alias("df_b"),
            F.count("*").alias("c_ab"),
        )
        .filter(F.col("c_ab") >= 20)
    )
    return pairs.join(F.broadcast(n_docs)).select(
        "term_a",
        "term_b",
        "c_ab",
        "df_a",
        "df_b",
        F.round(
            F.log(
                F.col("c_ab")
                * F.col("n_docs").cast("double")
                / (F.col("df_a") * F.col("df_b").cast("double"))
            ),
            6,
        ).alias("pmi"),
    )


@register(
    "corpus_overlap_matrix",
    """
    WITH norm AS (
      SELECT source,
             list_filter(regexp_split_to_array(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
               w -> len(w) > 0) AS words
      FROM documents
    ),
    sh AS (
      SELECT source,
             CASE WHEN len(words) < 5 THEN [array_to_string(words, ' ')]
                  ELSE list_distinct(list_transform(generate_series(1, len(words) - 4),
                                                    i -> array_to_string(list_slice(words, i, i + 4), ' ')))
             END AS sh
      FROM norm
    ),
    ex AS (SELECT DISTINCT source, unnest(sh) AS s FROM sh),
    n AS (SELECT source, count(*) AS n FROM ex GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      FROM ex a JOIN ex b USING (s)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_common,
           round(n_common / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard
    FROM pairs
    JOIN n na ON na.source = src_a
    JOIN n nb ON nb.source = src_b
    """,
    doc="cross-source n-gram overlap matrix: shared distinct 5-shingle "
    "count + Jaccard for every source pair — the corpus-composition "
    "diagnostic behind mixture weighting and decontamination (which "
    "sources are near-copies of each other?).  The (source, shingle) "
    "incidence is distinct-deduped BEFORE the self-join, so join cost "
    "is ∝ Σ df² over sources (df ≤ |sources|, tiny), never document "
    "count; per-source totals broadcast; the same max_df stop-shingle "
    "cut as ngram-Jaccard applies for boilerplate-heavy corpora",
)
def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.text_analysis import shingles

    docs = load_tables(spark, sf_dir)["documents_spread"]
    # r11: a collect_set-per-shingle rewrite (the market_basket_rules
    # recipe) was tried and REVERTED on measurement — 1.5 s → 3.1 s:
    # shingle sets are overwhelmingly singletons here, so the per-group
    # set machinery + checkpoint materialization of ~1M set rows costs
    # more than the reused (s) exchange the self-join already shares.
    ex = (
        docs.select("source", F.explode(shingles(F.col("text"), 5)).alias("s"))
        .distinct()
    )
    n = ex.groupBy("source").agg(F.count("*").alias("n"))
    a = ex.select(F.col("source").alias("src_a"), "s")
    b = ex.select(F.col("source").alias("src_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = n.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = n.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------- gazetteer keyword tagging

# The broadcastable dictionary — in production a domain gazetteer
# (drug names, gene symbols, MeSH terms; the reference filters NIH
# abstracts by exactly such keyword lists server-side in its ESearch
# term, SURVEY.md §3.2).  Literal here so the oracle shares it.
_GAZETTEER = ["spark", "join", "window", "stream", "filter", "merge", "hash"]


@register(
    "text_keyword_tag",
    f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS tk
      FROM documents
    )
    SELECT doc_id,
           coalesce(array_to_string(
             list_filter({_GAZETTEER!r}, t -> list_contains(tk, t)), ';'), '') AS tags,
           len(list_filter({_GAZETTEER!r}, t -> list_contains(tk, t))) AS n_tags
    FROM toks
    """,
    doc="Dictionary/gazetteer tagging: which dictionary terms appear in "
    "each document. The dictionary is a broadcast-free LITERAL array "
    "filtered by token-set containment — filter(dict, t -> "
    "array_contains(tokens, t)) — so the whole operator is one "
    "codegen projection at scan speed: no explode, no join, no "
    "shuffle, and tag order is dictionary order in both engines "
    "(dedup for free since the dictionary is distinct). At 100 TB a "
    "large gazetteer swaps the literal for a broadcast join against "
    "exploded tokens; this is the hot path for dictionaries that fit "
    "in the plan.",
)
def text_keyword_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "
    )
    gaz = F.array(*[F.lit(w) for w in _GAZETTEER])
    tags = F.filter(gaz, lambda w: F.array_contains(toks, w))
    return t["documents"].select(
        "doc_id",
        F.array_join(tags, ";").alias("tags"),
        F.size(tags).cast("long").alias("n_tags"),
    )


# ------------------------------------------- per-source KL divergence

@register(
    "corpus_kl_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' ')) AS tk
      FROM documents
    ),
    sc AS (SELECT source, tk, count(*) AS c FROM tok GROUP BY source, tk),
    st AS (SELECT source, sum(c) AS n FROM sc GROUP BY source),
    gc AS (SELECT tk, sum(c) AS g FROM sc GROUP BY tk),
    gt AS (SELECT sum(c) AS m FROM sc)
    SELECT sc.source,
           round(sum((CAST(sc.c AS DOUBLE) / st.n)
                     * ln((CAST(sc.c AS DOUBLE) / st.n)
                          / (CAST(gc.g AS DOUBLE) / gt.m))), 6) AS kl,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM sc JOIN st USING (source) JOIN gc USING (tk) CROSS JOIN gt
    GROUP BY sc.source
    ORDER BY sc.source
    """,
    doc="Corpus-composition drift: KL(source-slice token distribution ‖ "
    "corpus distribution) per source — the mixture diagnostic a "
    "training pipeline watches when re-weighting domains (same family "
    "as sample_mixture_temperature / quality_dsir_weights). Exact "
    "integer counts feed ln() of identical doubles (the divergent "
    "term is a per-(source,token) ratio, not a fold-ordered sum); the "
    "final per-source sum is doubles, surfaced through round(.,6) "
    "with ~1e-13 worst-case fold spread. Shape: token counts shuffle "
    "once on (source,token); the global term table joins on token "
    "(vocab-sized, ∝ distinct terms, never documents); totals are "
    "1-row/source-row broadcasts.",
)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tok = t["documents"].select(
        "source",
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
                ),
                " ",
            )
        ).alias("tk"),
    )
    sc = tok.groupBy("source", "tk").agg(F.count("*").alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("tk").agg(F.sum("c").alias("g"))
    gt = sc.agg(F.sum("c").alias("m"))
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("g").cast("double") / F.col("m")
    return (
        sc.join(F.broadcast(st), "source")
        .join(gc, "tk")
        .crossJoin(F.broadcast(gt))
        .groupBy("source")
        .agg(
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl"),
            F.count("*").alias("n_terms"),
        )
        .orderBy("source")
    )


@register(
    "text_vocab_build",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    stats AS (
      SELECT term, count(*) AS c, count(DISTINCT doc_id) AS df_docs
      FROM toks GROUP BY term
    )
    SELECT term, CAST(c AS BIGINT) AS c, CAST(df_docs AS BIGINT) AS df_docs,
           CAST(row_number() OVER (ORDER BY c DESC, term ASC) AS BIGINT)
             AS term_id
    FROM stats WHERE c >= 2
    """,
    doc="frequency-cutoff vocabulary with dense (count desc, term asc) "
    "ids — the tokenizer-training precursor; the global id window runs "
    "over the VOCAB table (|V| ~ corpus^0.5 by Heaps' law), never the "
    "corpus (operators/ngram_lm.py::build_vocab)",
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.ngram_lm import build_vocab

    t = load_tables(spark, sf_dir)
    out = build_vocab(t["documents_spread"], "doc_id", "text", min_count=2)
    return out.select(
        "term", F.col("c").cast("long").alias("c"),
        F.col("df_docs").cast("long").alias("df_docs"), "term_id",
    )


@register(
    "text_phrase_search",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1) AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS term
      FROM toks, unnest(range(1, len(toks) + 1)) AS t(i)
      WHERE toks[i] IN ('table', 'value', 'row')
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(a.pos) AS BIGINT) AS first_pos
    FROM pos a
    JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.term = 'value'
    JOIN pos c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.term = 'row'
    WHERE a.term = 'table'
    GROUP BY a.doc_id
    """,
    doc="positional-inverted-index exact phrase query ('table value "
    "row'): the scan filters the position stream to the phrase's own "
    "terms, so the k-1 adjacency self-joins cost ∝ posting-list sizes "
    "(Zipf-bounded), never the corpus; the lexical complement of "
    "text_bm25_rank (operators/text_rank.py::phrase_search)",
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.text_rank import phrase_search

    t = load_tables(spark, sf_dir)
    out = phrase_search(t["documents_spread"], "doc_id", "text", "table value row")
    return out.select(F.col("id").alias("doc_id"), "n_matches", "first_pos")


@register(
    "text_explode_outer_longtoks",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 6) AS lt
      FROM documents
    )
    SELECT doc_id, unnest(CASE WHEN len(lt) = 0 THEN [NULL] ELSE lt END)
             AS long_tok
    FROM toks
    """,
    doc="explode_outer (LATERAL VIEW OUTER): documents with NO >6-char "
    "token survive as a NULL row instead of silently dropping — the "
    "1-to-N unnest that must not lose parents (the reference's chunk "
    "explode pipeline.py:203-205 has the inner-only behavior; outer is "
    "what an audit join needs); oracle models it as unnest of a "
    "[NULL]-defaulted list",
)
def text_explode_outer_longtoks(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = t["documents_spread"].select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda w: F.length(w) > 6,
        ).alias("lt"),
    )
    return toks.select("doc_id", F.explode_outer("lt").alias("long_tok"))


from knowledge_model_spark.functions.stemmer import oracle_sql_stem as _stem_sql


@register(
    "text_light_stem",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS tok
      FROM documents
    )
    SELECT {stemmed} AS stem, CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY 1
    """.format(stemmed=_stem_sql("tok")),
    doc="light stemmer (Porter step-1 rule subset) folding plural / "
    "participle inflections before indexing — BM25/phrase-search "
    "normalization; the anchored-regex rule chain is generated for "
    "BOTH engines from one rule table (functions/stemmer.py) so they "
    "cannot drift; scan-speed codegen, classic Porter fixtures pinned "
    "in tests",
)
def text_light_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.stemmer import light_stem

    t = load_tables(spark, sf_dir)
    toks = t["documents_spread"].select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda w: F.length(w) > 1,
            )
        ).alias("tok")
    )
    return toks.groupBy(light_stem(F.col("tok")).alias("stem")).agg(
        F.count("*").cast("long").alias("c")
    )


@register(
    "corpus_zipf_slope",
    """
    WITH toks AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    vocab AS (
      SELECT term, count(*) AS c,
             row_number() OVER (ORDER BY count(*) DESC, term) AS rnk
      FROM toks GROUP BY term
    ),
    pts AS (SELECT rnk, ln(CAST(rnk AS DOUBLE)) AS x,
                   ln(CAST(c AS DOUBLE)) AS y FROM vocab),
    s AS (
      SELECT count(*) AS n,
             sum(x ORDER BY rnk) AS sx, sum(y ORDER BY rnk) AS sy,
             sum(x * x ORDER BY rnk) AS sxx, sum(x * y ORDER BY rnk) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM s
    """,
    doc="Zipf-law fit diagnostic: OLS slope of ln(freq) vs ln(rank) "
    "over the vocabulary — natural text sits near −1; a flat slope "
    "flags template/machine-generated corpora and a cliff flags "
    "boilerplate floods (the corpus-composition health check next to "
    "corpus_kl_divergence); sums fold in rank order on BOTH engines "
    "over the |V|-sized vocab table, round-6 absorbs ln ulp",
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.operators.ngram_lm import build_vocab

    t = load_tables(spark, sf_dir)
    vocab = build_vocab(t["documents_spread"], "doc_id", "text", min_count=1)
    pts = vocab.select(
        F.col("term_id").alias("rnk"),
        F.log(F.col("term_id").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    agg = pts.agg(
        F.count("*").alias("n"),
        F.array_sort(
            F.collect_list(F.struct("rnk", "x", "y"))
        ).alias("ps"),
    ).select(
        "n",
        F.aggregate("ps", F.lit(0.0), lambda a, p: a + p["x"]).alias("sx"),
        F.aggregate("ps", F.lit(0.0), lambda a, p: a + p["y"]).alias("sy"),
        F.aggregate("ps", F.lit(0.0), lambda a, p: a + p["x"] * p["x"]).alias("sxx"),
        F.aggregate("ps", F.lit(0.0), lambda a, p: a + p["x"] * p["y"]).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@register(
    "corpus_js_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' ')) AS tk
      FROM documents
    ),
    sc AS (SELECT source, tk, count(*) AS c FROM tok GROUP BY source, tk),
    st AS (SELECT source, sum(c) AS n FROM sc GROUP BY source),
    gc AS (SELECT tk, sum(c) AS g FROM sc GROUP BY tk),
    gt AS (SELECT sum(c) AS m FROM sc),
    grid AS (
      SELECT st.source, st.n, gc.tk, gc.g, coalesce(sc.c, 0) AS c
      FROM st CROSS JOIN gc
      LEFT JOIN sc ON sc.source = st.source AND sc.tk = gc.tk
    )
    SELECT source,
           round(sum(
             CASE WHEN c > 0 THEN 0.5 * (CAST(c AS DOUBLE) / n)
                  * ln((CAST(c AS DOUBLE) / n)
                       / ((CAST(c AS DOUBLE) / n
                           + CAST(g AS DOUBLE) / (SELECT m FROM gt)) / 2))
                  ELSE 0.0 END
             + 0.5 * (CAST(g AS DOUBLE) / (SELECT m FROM gt))
               * ln((CAST(g AS DOUBLE) / (SELECT m FROM gt))
                    / ((CAST(c AS DOUBLE) / n
                        + CAST(g AS DOUBLE) / (SELECT m FROM gt)) / 2))
           ), 6) AS js,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM grid GROUP BY source ORDER BY source
    """,
    doc="Jensen-Shannon divergence per source vs the corpus token "
    "distribution — the SYMMETRIC, bounded (≤ ln 2) twin of "
    "corpus_kl_divergence (KL explodes when a source merely lacks a "
    "corpus term; JS stays finite, so it's the robust drift alarm). "
    "The (source × vocab) grid handles absent terms explicitly and is "
    "dimension-sized (sources·|V|), never corpus-sized; identical "
    "double ratios feed ln() in both engines, round-6 absorbs the "
    "per-source fold spread",
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    tok = t["documents"].select(
        "source",
        F.explode(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
                ),
                " ",
            )
        ).alias("tk"),
    )
    sc = tok.groupBy("source", "tk").agg(F.count("*").alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("tk").agg(F.sum("c").alias("g"))
    m_tot = sc.agg(F.sum("c")).collect()[0][0]
    if not m_tot:
        return sc.select(
            "source", F.lit(0.0).alias("js"), F.lit(0).cast("long").alias("n_terms")
        ).limit(0)
    grid = (
        st.crossJoin(gc)
        .join(sc, ["source", "tk"], "left")
        .select("source", "n", "tk", "g", F.coalesce("c", F.lit(0)).alias("c"))
    )
    p = F.col("c").cast("double") / F.col("n")
    q = F.col("g").cast("double") / F.lit(float(m_tot))
    mid = (p + q) / 2
    contrib = (
        F.when(F.col("c") > 0, 0.5 * p * F.log(p / mid)).otherwise(F.lit(0.0))
        + 0.5 * q * F.log(q / mid)
    )
    return (
        grid.groupBy("source")
        .agg(
            F.round(F.sum(contrib), 6).alias("js"),
            F.count("*").cast("long").alias("n_terms"),
        )
        .orderBy("source")
    )


@register(
    "corpus_crossdup_matrix",
    """
    WITH fp AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+',
             ' ', 'g'))) AS f, source
      FROM documents
    )
    SELECT least(a.source, b.source) AS source_a,
           greatest(a.source, b.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc="cross-source exact-duplicate matrix (normalized-fingerprint "
    "pairs bucketed by unordered source pair) — the provenance/"
    "licensing diagnostic that shows WHICH feeds mirror each other "
    "(mirrored feeds inflate a source's apparent weight before "
    "mixture balancing); the self-join keys on the uniform md5 "
    "fingerprint, so candidates ∝ duplicated content only — at "
    "testdata scale the planted twins appear from sf0.1 up (8 "
    "cross-source pairs), and the empty small-SF result is itself "
    "the correct answer",
)
def corpus_crossdup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    fp = t["documents"].select(
        "doc_id",
        "source",
        F.md5(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
        ).alias("f"),
    )
    a = fp.select(F.col("f"), F.col("doc_id").alias("ida"), F.col("source").alias("sa"))
    b = fp.select(F.col("f"), F.col("doc_id").alias("idb"), F.col("source").alias("sb"))
    pairs = a.join(b, "f").filter(F.col("ida") < F.col("idb"))
    return pairs.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(F.count("*").cast("long").alias("n_dup_pairs"))


@register(
    "text_dup_ngram_mass",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         w -> w <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(list_slice(w, i + 1, i + 5), ' ') AS g
      FROM toks, unnest(range(len(w) - 4)) AS u(i)
      WHERE len(w) >= 5
    ),
    per AS (SELECT g, doc_id, count(*) AS c FROM grams GROUP BY g, doc_id),
    flagged AS (
      SELECT doc_id, c, count(*) OVER (PARTITION BY g) AS n_docs FROM per
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(sum(CASE WHEN n_docs >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c) AS dup_frac
    FROM flagged GROUP BY doc_id
    """,
    doc="cross-document duplicate 5-gram mass per document (the "
    "Gopher/RefinedWeb 'duplicate n-gram fraction' filter — Rae et al. "
    "2021 appendix A): share of a doc's 5-gram occurrences whose gram "
    "appears in >=2 distinct documents. Complements "
    "quality_repetition_rules (WITHIN-doc repetition) with the "
    "CROSS-doc signal that catches boilerplate and templated spam "
    "near-dup pair detection misses. Three key-partitioned shuffles — "
    "(gram,doc), (gram), (doc) — all gram-table-sized; dup_frac is the "
    "one shared integer division emitted UNROUNDED (bit-identical "
    "cross-engine, per the round() half-tie gotcha)",
)
def text_dup_ngram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
    )
    grams = (
        t["documents_spread"]
        .select("doc_id", w.alias("w"))
        .filter(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 5), "
                    "i -> array_join(slice(w, i + 1, 5), ' '))"
                )
            ).alias("g"),
        )
    )
    # ONE wide exchange, hash(g), serves everything downstream:
    # hash(g) satisfies the (g, doc_id) aggregate's clustering, the
    # per-gram doc-count aggregate, AND the flag join's distribution —
    # so neither aggregate nor the join adds an exchange (the
    # _dedup_with_outdeg recipe).  Without the explicit repartition the
    # optimizer planned the gram pipeline TWICE (scan → split → explode
    # → Exchange(g, doc) duplicated; ReuseExchange never fired across
    # the join's two sides) and then re-exchanged both aggregates by g.
    # The eager localCheckpoint pins the single evaluation.  Skew note
    # unchanged: per-gram doc counts stay an agg + equi-join rather
    # than a window so a Zipfian boilerplate gram splits under AQE.
    per = (
        grams.repartition("g")
        .groupBy("g", "doc_id")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    gram_docs = per.groupBy("g").agg(F.count("*").alias("n_docs"))
    flagged = per.join(gram_docs, "g")
    dup_c = F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(F.lit(0)))
    return flagged.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_ngrams"),
        dup_c.cast("long").alias("n_dup"),
        (dup_c.cast("double") / F.sum("c")).alias("dup_frac"),
    )


# Mojibake fixtures shared verbatim by the Spark query and the DuckDB
# oracle (the documents table is clean by construction, so corruption is
# planted deterministically from doc_id): UTF-8 read as cp1252 turns
# 'e-acute' into 'A-tilde + copyright', the right single quote into
# 'a-circumflex + euro + trademark', NBSP into 'A-circumflex + space';
# a lossy decode leaves U+FFFD behind.  ASCII escapes keep this source
# file and the generated SQL free of control characters.
_MOJI_TAIL = " cafÃ© â€™s naÃ¯veÂ ."
_MOJI_HEAD = "� broken header "
# one codepoint-wise RE2-safe pattern covering all four indicator
# families: A-tilde+any, a-circumflex+any, A-circumflex+(space|dot),
# and the replacement char
_MOJI_RE = "(Ã.|â.|Â[ .]|�)"


@register(
    "text_mojibake_score",
    f"""
    WITH pages AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || '{_MOJI_TAIL}'
                  WHEN doc_id % 7 = 0 THEN '{_MOJI_HEAD}' || text
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_MOJI_RE}')) AS BIGINT)
             AS n_moji,
           len(regexp_extract_all(t, '{_MOJI_RE}')) > 0 AS corrupt
    FROM pages
    """,
    doc="encoding-corruption (mojibake) audit: counts UTF-8-as-cp1252 "
    "indicator sequences (the ftfy heuristic families, Speer 2019) per "
    "document; corruption is planted deterministically from doc_id "
    "since testdata is clean, and the fixture strings + detector regex "
    "are module constants interpolated into BOTH engines so they "
    "cannot drift; scan-speed column expressions, no shuffle before "
    "the final projection",
)
def text_mojibake_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    page = (
        F.when(F.col("doc_id") % 5 == 0, F.concat("text", F.lit(_MOJI_TAIL)))
        .when(F.col("doc_id") % 7 == 0, F.concat(F.lit(_MOJI_HEAD), "text"))
        .otherwise(F.col("text"))
    )
    n = F.size(F.regexp_extract_all(page, F.lit(_MOJI_RE), 0))
    return t["documents"].select(
        "doc_id",
        n.cast("long").alias("n_moji"),
        (n > 0).alias("corrupt"),
    )


@register(
    "text_bpe_learn_merges",
    None,  # iterative training loop — not SQL-expressible; exact
    # ground-truth gate in tests/test_tokenize.py (frozen-prefix match)
    doc="the BPE TRAINING loop itself as a registered query: one corpus "
    "scan reduces to a weighted word table, then 12 greedy merge rounds "
    "run on that vocab-sized table (functions/tokenize.py::"
    "learn_bpe_merges); deterministic by construction (lexicographic "
    "ties), so the returned merge table is stable across runs and "
    "partitionings — the learned prefix must equal the frozen "
    "_BPE_MERGES table text_bpe_tokenize applies",
)
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.tokenize import learn_bpe_merges

    t = load_tables(spark, sf_dir)
    merges = learn_bpe_merges(t["documents_spread"], "text", n_merges=12)
    rows = [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, merged string"
    )


@register(
    "corpus_health_report",
    """
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(len(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'),
               w -> w <> ''))) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      FROM documents
    ),
    lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY lang)
    SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM base
    UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM base
    UNION ALL SELECT 'avg_doc_chars',
                     CAST(sum_chars AS DOUBLE) / n_docs FROM base
    UNION ALL SELECT 'exact_dup_frac',
                     1.0 - CAST(n_unique AS DOUBLE) / n_docs FROM base
    UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM base
    UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM base
    UNION ALL
    SELECT 'lang_entropy',
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) FROM lc
    """,
    doc="one-stop corpus health dashboard as a tall (metric, value) "
    "table: doc/token counts, mean length, exact-duplicate fraction "
    "(md5 fingerprints — bytes, not full texts, cross the wire), lang/"
    "source cardinalities, language-mix entropy H = ln n − Σc·ln c / n "
    "(exact integer counts, round-6 absorbs the k-term fold).  ONE "
    "corpus scan feeds every distinct aggregate; the entropy rides a "
    "lang-sized side agg — the monitoring query a 100 TB ingest runs "
    "after every batch",
)
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    toks = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda w: w != "",
        )
    )
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(toks).alias("n_tokens"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    # nullif guards: an empty corpus must report NULL ratios, not an
    # ANSI divide-by-zero (the empty-partition contract every registered
    # query honors); on real data nullif is the identity
    tall = base.selectExpr(
        "stack(6,"
        " 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'n_tokens', CAST(n_tokens AS DOUBLE),"
        " 'avg_doc_chars', CAST(sum_chars AS DOUBLE) / nullif(n_docs, 0),"
        " 'exact_dup_frac',"
        "   1.0 - CAST(n_unique AS DOUBLE) / nullif(n_docs, 0),"
        " 'n_langs', CAST(n_langs AS DOUBLE),"
        " 'n_sources', CAST(n_sources AS DOUBLE)"
        ") AS (metric, value)"
    )
    lc = docs.groupBy("lang").agg(F.count("*").alias("c"))
    ent = lc.agg(
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double")))
            / F.nullif(F.sum("c"), F.lit(0)),
            6,
        ).alias("value")
    ).select(F.lit("lang_entropy").alias("metric"), "value")
    return tall.unionByName(ent)


RAKE_STOPWORDS = ("a", "the", "of", "and", "to", "in")
RAKE_TOP = 3


@register(
    "text_rake_keyphrases",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 0) AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, unnest(t) AS w,
             unnest(generate_series(1, len(t))) AS pos
      FROM toks
    ),
    marked AS (
      SELECT doc_id, pos, w,
             w IN {RAKE_STOPWORDS} AS stop,
             sum(CASE WHEN w IN {RAKE_STOPWORDS} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS phrase_id
      FROM pos
    ),
    content AS (
      SELECT doc_id, phrase_id, pos, w,
             count(*) OVER (PARTITION BY doc_id, phrase_id) AS n_w
      FROM marked WHERE NOT stop
    ),
    wstats AS (
      SELECT doc_id, w,
             count(*) AS freq,
             CAST(sum(n_w) AS BIGINT) AS deg
      FROM content GROUP BY doc_id, w
    ),
    scored AS (
      SELECT c.doc_id, c.phrase_id, c.pos, c.w,
             s.deg / CAST(s.freq AS DOUBLE) AS wscore
      FROM content c JOIN wstats s ON s.doc_id = c.doc_id AND s.w = c.w
    ),
    phrases AS (
      SELECT doc_id, phrase_id,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             sum(wscore ORDER BY pos) AS score
      FROM scored GROUP BY doc_id, phrase_id
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, n_words, score
    FROM (
      SELECT doc_id, phrase, n_words, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, phrase, phrase_id)
               AS rank
      FROM phrases) WHERE rank <= {RAKE_TOP}
    """,
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
    "phrases are maximal stopword-free token runs; word score = "
    "degree/frequency within the document (degree = Σ length of the "
    "phrases the word occurs in); phrase score = position-ordered sum "
    "of its word scores — the unsupervised keyword extractor beside "
    "text_top_terms (tf/df) and text_pmi_cooccurrence.  All counts "
    "exact; word score one integer division; the phrase fold is "
    "position-ordered on both engines.  Per-document computation, so "
    "the only shuffles are doc-keyed windows/groupBys — "
    "embarrassingly parallel at 100 TB",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = t["documents_spread"].select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda w: F.length(w) > 0,
        ).alias("t"),
    )
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("pos0", "w")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    stop = F.col("w").isin(*RAKE_STOPWORDS)
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = pos.select(
        "doc_id", "pos", "w", stop.alias("stop"),
        F.sum(F.when(stop, 1).otherwise(0)).over(w_run).alias("phrase_id"),
    )
    content = marked.filter(~F.col("stop")).withColumn(
        "n_w", F.count("*").over(Window.partitionBy("doc_id", "phrase_id"))
    )
    # word stats as windows over (doc_id, w) instead of groupBy +
    # join-back (r11, guide §2.4): both run on the doc_id exchange the
    # phrase windows already need, so the token stream is never
    # re-paired with itself — deg/freq per row are the identical Σn_w
    # and count the aggregate produced.
    w_word = Window.partitionBy("doc_id", "w")
    scored = content.select(
        "doc_id", "phrase_id", "pos", "w",
        (
            F.sum("n_w").over(w_word).cast("long")
            / F.count("*").over(w_word).cast("double")
        ).alias("wscore"),
    )
    phrases = (
        scored.groupBy("doc_id", "phrase_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("pos", "w", "wscore"))
            ).alias("ps")
        )
        .select(
            "doc_id",
            "phrase_id",
            F.concat_ws(
                " ", F.transform("ps", lambda p: p["w"])
            ).alias("phrase"),
            F.size("ps").cast("long").alias("n_words"),
            F.aggregate(
                "ps", F.lit(0.0), lambda acc, p: acc + p["wscore"]
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "phrase", "phrase_id"
    )
    return (
        phrases.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= RAKE_TOP)
        .select("doc_id", "rank", "phrase", "n_words", "score")
    )


@register(
    "corpus_gini_concentration",
    """
    WITH terms AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               w -> len(w) > 1)) AS term
      FROM documents
    ),
    counts AS (
      SELECT lang, term, CAST(count(*) AS DECIMAL(19,0)) AS c
      FROM terms GROUP BY lang, term
    ),
    indexed AS (
      SELECT lang, c,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY c, term)
                  AS DECIMAL(19,0)) AS i,
             count(*) OVER (PARTITION BY lang) AS n
      FROM counts
    )
    SELECT lang, CAST(any_value(n) AS BIGINT) AS n_terms,
           round(CAST(sum((2 * i - n - 1) * c) AS DOUBLE)
                 / CAST(any_value(n) * sum(c) AS DOUBLE), 6) AS gini
    FROM indexed GROUP BY lang
    """,
    doc="Gini coefficient of the per-language term-frequency "
    "distribution — vocabulary-concentration audit beside "
    "corpus_zipf_slope (a template/boilerplate corpus concentrates "
    "mass in few terms → Gini near 1; natural text sits lower).  "
    "Computed by the sorted-index identity Σ(2i−n−1)·c / (n·Σc): "
    "every term is an exact decimal integer until the ONE final "
    "division (round-6 absorbs conversion ulp).  The sort/window runs "
    "on the |V|-sized vocab table only (Heaps' law — dimension-sized, "
    "like text_vocab_build), never the corpus",
)
def corpus_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    terms = t["documents_spread"].select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
                lambda w: F.length(w) > 1,
            )
        ).alias("term"),
    )
    counts = terms.groupBy("lang", "term").agg(
        F.count("*").cast("decimal(19,0)").alias("c")
    )
    w_i = Window.partitionBy("lang").orderBy("c", "term")
    w_n = Window.partitionBy("lang")
    indexed = counts.select(
        "lang",
        "c",
        F.row_number().over(w_i).cast("decimal(19,0)").alias("i"),
        F.count("*").over(w_n).alias("n"),
    )
    return indexed.groupBy("lang").agg(
        F.any_value("n").cast("long").alias("n_terms"),
        F.round(
            F.sum(
                (2 * F.col("i") - F.col("n") - 1) * F.col("c")
            ).cast("double")
            / (F.any_value("n") * F.sum("c")).cast("double"),
            6,
        ).alias("gini"),
    )


@register(
    "text_unigram_lm_train",
    None,  # iterative EM training loop — not SQL-expressible; exact
    # frozen-prefix gate at TWO SFs + planted-corpus recovery +
    # repartitioning determinism in tests/test_tokenize.py
    doc="unigram-LM (SentencePiece, Kudo ACL'18) vocabulary TRAINING as "
    "a registered query — the trainer twin of text_bpe_learn_merges on "
    "the other classic subword algorithm: one corpus scan reduces to "
    "the weighted distinct-word table, substring seeding + hard-EM "
    "Viterbi rounds + a deterministic 20% prune schedule run on that "
    "vocab-sized table (functions/tokenize.py::learn_unigram_lm); "
    "singles are never pruned (coverage by construction), every tie "
    "breaks lexicographically and the E-step is max/argmax (not float "
    "sums), so the learned vocabulary is bit-stable across runs and "
    "partitionings",
)
def text_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from knowledge_model_spark.functions.tokenize import learn_unigram_lm

    t = load_tables(spark, sf_dir)
    pieces = learn_unigram_lm(t["documents_spread"], "text")
    rows = [
        (i + 1, p, len(p), int(c), float(lp))
        for i, (p, c, lp) in enumerate(pieces)
    ]
    return spark.createDataFrame(
        rows, "rank int, piece string, piece_len int, cnt long, logprob double"
    )


# Frozen unigram-LM vocabulary: the exact text_unigram_lm_train output
# at sf0.01 (64 pieces, add-1 log-probs) — the apply-side constant,
# like _BPE_MERGES for the BPE pair.  tests/test_tokenize.py pins the
# trainer's prefix to this table so trainer and apply can never drift.
_UNIGRAM_VOCAB = [
    ("t", -2.808365203672885),
    ("par", -3.1956636394974365),
    ("g", -3.1979402483350285),
    ("s", -3.1990804993137605),
    ("a", -3.209401691854035),
    ("join", -3.796036282896009),
    ("hash", -3.813809881979973),
    ("row", -3.818038218089494),
    ("batch", -3.8244144352287703),
    ("scan", -3.8254811019965724),
    ("column", -3.827617854946308),
    ("custom", -3.827617854946308),
    ("er", -3.827617854946308),
    ("filter", -3.828687946006152),
    ("small", -3.8340556454211563),
    ("merge", -3.8448782618793076),
    ("slow", -3.8448782618793076),
    ("order", -3.8514285036400264),
    ("vector", -3.8514285036400264),
    ("line", -3.8536214869750367),
    ("data", -3.855819290057516),
    ("table", -3.855819290057516),
    ("up", -3.860229440535069),
    ("agg", -3.863549864172371),
    ("value", -3.8679943159327954),
    ("key", -3.8691085221761985),
    ("stream", -3.8780671487210903),
    ("indow", -3.8803194019254152),
    ("w", -3.8803194019254152),
    ("k", -3.887106758298815),
    ("ro", -3.8893794865498177),
    ("b", -3.891657391862812),
    ("i", -3.891657391862812),
    ("or", -3.8962288283953925),
    ("q", -3.8973749603260153),
    ("r", -3.8973749603260153),
    ("ue", -3.8973749603260153),
    ("y", -3.8973749603260153),
    ("f", -3.9170629152982346),
    ("st", -3.9170629152982346),
    ("e", -3.9335727242620466),
    ("h", -3.9335727242620466),
    ("d", -7.372327518230666),
    ("c", -10.668164384234995),
    ("j", -10.668164384234995),
    ("l", -10.668164384234995),
    ("m", -10.668164384234995),
    ("n", -10.668164384234995),
    ("o", -10.668164384234995),
    ("oin", -10.668164384234995),
    ("ol", -10.668164384234995),
    ("olu", -10.668164384234995),
    ("olum", -10.668164384234995),
    ("olumn", -10.668164384234995),
    ("om", -10.668164384234995),
    ("ome", -10.668164384234995),
    ("omer", -10.668164384234995),
    ("ord", -10.668164384234995),
    ("orde", -10.668164384234995),
    ("ow", -10.668164384234995),
    ("p", -10.668164384234995),
    ("pa", -10.668164384234995),
    ("u", -10.668164384234995),
    ("v", -10.668164384234995),
]

# unknown-character penalty: strictly below the rarest vocab piece so a
# known segmentation always beats one through an UNK char
_UNIGRAM_UNK = -20.0


@register(
    "text_unigram_lm_tokenize",
    None,  # per-word Viterbi DP — sequential, not SQL-expressible;
    # exact python-recompute parity + determinism in tests/test_tokenize.py
    doc="the APPLY half of the unigram-LM tokenizer pair (trainer: "
    "text_unigram_lm_train — the same learn/apply split as "
    "text_bpe_learn_merges / text_bpe_tokenize): segment every "
    "document's words with the FROZEN 64-piece vocabulary via the "
    "shared Viterbi DP (functions/tokenize.py::viterbi_pieces, "
    "unknown chars at a fixed penalty so coverage never fails on "
    "unseen corpora), emitting per-doc subword statistics — token "
    "count, unknown-char count, and chars-per-piece compression (one "
    "exact division).  Scale shape: ONE mapInPandas over the "
    "documents scan with the vocab as a broadcast-by-closure literal "
    "— no shuffle, no joins, cost linear in corpus chars; at 100 TB "
    "this is the tokenizer-throughput pass a training pipeline runs "
    "to size its token budget",
)
def text_unigram_lm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re
    from collections.abc import Iterator

    import pandas as pd

    from knowledge_model_spark.functions.tokenize import viterbi_pieces

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"].select("doc_id", "text")
    logp = dict(_UNIGRAM_VOCAB)
    maxlen = max(len(p) for p in logp)
    word_re = _re.compile(r"[a-z0-9]+")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_words": [], "n_pieces": [],
                   "n_unk_chars": [], "n_chars": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = word_re.findall(str(text).lower())
                n_pieces = n_unk = n_chars = 0
                for w in words:
                    n_chars += len(w)
                    for piece in viterbi_pieces(
                        w, logp, maxlen, unk_logp=_UNIGRAM_UNK
                    ):
                        n_pieces += 1
                        if piece not in logp:
                            n_unk += 1
                out["doc_id"].append(int(did))
                out["n_words"].append(len(words))
                out["n_pieces"].append(n_pieces)
                out["n_unk_chars"].append(n_unk)
                out["n_chars"].append(n_chars)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "n_words": pd.Series(out["n_words"], dtype="int64"),
                    "n_pieces": pd.Series(out["n_pieces"], dtype="int64"),
                    "n_unk_chars": pd.Series(
                        out["n_unk_chars"], dtype="int64"
                    ),
                    "n_chars": pd.Series(out["n_chars"], dtype="int64"),
                }
            )

    stats = docs.mapInPandas(
        kernel,
        "doc_id long, n_words long, n_pieces long, n_unk_chars long, "
        "n_chars long",
    )
    return stats.select(
        "doc_id",
        "n_words",
        "n_pieces",
        "n_unk_chars",
        F.when(F.col("n_pieces") > 0,
               F.col("n_chars") / F.col("n_pieces").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("chars_per_piece"),
    )


# Frozen WordPiece vocabulary, derived deterministically from the
# frozen unigram-LM pieces (_UNIGRAM_VOCAB is itself the pinned sf0.01
# trainer output): every piece both word-initial and as a ##
# continuation, plus full [a-z0-9] single coverage in both roles so the
# all-or-nothing [UNK] rule only fires on characters outside the
# tokenizer's alphabet — never mid-corpus.
_WORDPIECE_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
_WORDPIECE_VOCAB = frozenset(
    {p for p, _ in _UNIGRAM_VOCAB}
    | {"##" + p for p, _ in _UNIGRAM_VOCAB}
    | set(_WORDPIECE_ALPHABET)
    | {"##" + c for c in _WORDPIECE_ALPHABET}
)
_WORDPIECE_MAXLEN = max(len(p) for p, _ in _UNIGRAM_VOCAB)


@register(
    "text_wordpiece_tokenize",
    None,  # greedy longest-match-first per word — sequential string
    # matching, not SQL-expressible; exact python-recompute parity +
    # determinism in tests/test_tokenize.py
    doc="WordPiece apply — the THIRD production tokenizer beside BPE "
    "(text_bpe_tokenize) and unigram-LM (text_unigram_lm_tokenize), "
    "same frozen-vocab pattern: greedy longest-match-first over a "
    "pinned vocabulary with ## continuation pieces and the "
    "all-or-nothing [UNK] word rule (Wu et al. 2016 — the BERT "
    "tokenizer's runtime), emitting per-doc token count, UNK-word "
    "count, continuation-piece count, and chars-per-piece "
    "compression.  Scale shape: ONE mapInPandas over the documents "
    "scan, vocab broadcast by closure — no shuffle, cost linear in "
    "corpus chars; the greedy matcher is O(maxlen) per position, "
    "no DP table",
)
def text_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re
    from collections.abc import Iterator

    import pandas as pd

    from knowledge_model_spark.functions.tokenize import wordpiece_pieces

    t = load_tables(spark, sf_dir)
    docs = t["documents_spread"].select("doc_id", "text")
    vocab, maxlen = _WORDPIECE_VOCAB, _WORDPIECE_MAXLEN
    word_re = _re.compile(r"[a-z0-9]+")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "n_words": [], "n_pieces": [],
                    "n_unk_words": [], "n_continuations": [], "n_chars": []}
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = word_re.findall(str(text).lower())
                n_pieces = n_unk = n_cont = n_chars = 0
                for w in words:
                    n_chars += len(w)
                    pieces = wordpiece_pieces(w, vocab, maxlen)
                    if pieces == ["[UNK]"]:
                        n_unk += 1
                    n_pieces += len(pieces)
                    n_cont += sum(1 for pc in pieces if pc.startswith("##"))
                rows["doc_id"].append(int(did))
                rows["n_words"].append(len(words))
                rows["n_pieces"].append(n_pieces)
                rows["n_unk_words"].append(n_unk)
                rows["n_continuations"].append(n_cont)
                rows["n_chars"].append(n_chars)
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="int64") for k, v in rows.items()}
            )

    stats = docs.mapInPandas(
        kernel,
        "doc_id long, n_words long, n_pieces long, n_unk_words long, "
        "n_continuations long, n_chars long",
    )
    return stats.select(
        "doc_id",
        "n_words",
        "n_pieces",
        "n_unk_words",
        "n_continuations",
        F.when(F.col("n_pieces") > 0,
               F.col("n_chars") / F.col("n_pieces").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("chars_per_piece"),
    )
