"""Cross-document boilerplate scrubbing (C4-style global unit removal).

Web-scale training-data pipelines (C4, RefinedWeb) drop text units that
recur across many documents — navigation chrome, license footers, cookie
banners.  The reference's per-answer bullet dedup
(`/root/reference/knowledge_model/main.py:283-291`) is the
single-document case; this operator is the corpus-wide generalization a
100 TB pipeline needs.  The unit separator is a parameter: lines
(``\\n``) for web text, whitespace for token-level vocabulary pruning.

Scale design: the corpus-frequency job is one explode + combiner-friendly
groupBy (shuffle carries (unit, partial df) pairs, not documents).  The
hot-unit set is provably tiny — at most ``mean_units_per_doc /
min_df_frac`` distinct values can exceed a document-frequency fraction —
so it is collected to the driver (bounded, same class as a broadcast
dim) and inlined as a literal array predicate.  The scrub itself is then
a pure column expression over the corpus: scan-speed, no join, no
shuffle, fully inside whole-stage codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _units(df: DataFrame, text_col: str, sep: str):
    """Non-empty separator-delimited units of ``text_col`` as an array
    column (split keeps order; empty fragments from repeated separators
    are dropped)."""
    return F.filter(
        F.split(F.col(text_col), re.escape(sep)), lambda u: F.length(u) > 0
    )


def frequent_units(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = " ",
    min_df_frac: float = 0.5,
) -> DataFrame:
    """(unit, df) rows for every unit appearing in ≥ ``min_df_frac`` of
    the documents.

    ``countDistinct`` (not count) so a unit repeated within one document
    counts that document once — document frequency, not term frequency.
    """
    n_docs = df.count()  # driver scalar (one agg), not row data
    return (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(_units(df, text_col, sep)).alias("unit"),
        )
        .groupBy("unit")
        .agg(F.countDistinct("__id").alias("df"))
        .filter(F.col("df") >= F.lit(float(min_df_frac)) * F.lit(n_docs))
    )


def scrub_frequent_units(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = " ",
    min_df_frac: float = 0.5,
) -> DataFrame:
    """Remove every unit in ≥ ``min_df_frac`` of documents from every
    document; adds ``scrubbed`` (rejoined survivors, original order) and
    ``n_dropped``.

    The hot set is bounded by ``mean_units_per_doc / min_df_frac``
    distinct values (each hot unit occupies ≥ min_df_frac·N of the N·mean
    unit slots), so the collect is a bounded dimension fetch — at corpus
    scale the second job never sees more than a few hundred strings.  The
    literal-array membership test is O(|hot|) per unit; for hot sets past
    ~10⁴ switch to an explode + broadcast anti-join + re-group, which
    trades the per-token scan for one corpus shuffle.
    """
    hot = sorted(
        r[0] for r in frequent_units(df, id_col, text_col, sep, min_df_frac).collect()
    )
    hot_arr = (
        F.array(*[F.lit(u) for u in hot])
        if hot
        else F.array().cast("array<string>")
    )
    with_toks = df.withColumn("__toks", _units(df, text_col, sep))
    kept = F.filter(F.col("__toks"), lambda u: ~F.array_contains(hot_arr, u))
    return (
        with_toks.withColumn("scrubbed", F.array_join(kept, sep))
        .withColumn(
            "n_dropped", (F.size("__toks") - F.size(kept)).cast("long")
        )
        .drop("__toks")
    )


def dedup_spans_first_seen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_chars: int = 100,
) -> DataFrame:
    """Corpus-wide exact span dedup, first occurrence wins (C4's
    repeated-span removal at sub-document granularity).

    Documents are cut into fixed ``span_chars`` windows; every window
    whose exact text already occurred earlier in the corpus (ordered by
    document id, then span position) is dropped, and each document is
    reassembled from its surviving spans.  Unlike
    :func:`scrub_frequent_units` (which removes EVERY occurrence of
    corpus-hot units) this keeps one canonical copy — the C4 semantics
    for repeated paragraphs/licenses.

    Scale: one shuffle partitioned by the span hash (uniform key — no
    skew: identical spans collapse into one partition-group whose size
    is the duplication factor), a window row_number inside it, then one
    groupBy(doc) to reassemble.  Both keys are uniform; nothing is
    collected.  The per-document span total is ceil(len/span_chars) —
    a pure expression on the base table, so the corpus is scanned and
    exploded exactly once.
    """
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.col(text_col), f"(?s)(?<=\\G.{{{span_chars}}})")
        ).alias("pos", "span"),
    ).filter(F.length("span") > 0)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5("span")).orderBy("id", "pos")
    kept = spans.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    n_spans = df.select(
        F.col(id_col).alias("id"),
        F.ceil(F.length(text_col) / F.lit(span_chars)).alias("__n_total"),
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
            "",
        ).alias("deduped_text"),
        F.count("*").alias("__n_kept"),
    )
    return (
        n_spans.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
            (F.col("__n_total") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_spans_dropped"),
        )
    )
