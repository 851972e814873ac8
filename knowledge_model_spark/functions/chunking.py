"""Chunking / passage splitting as pure SQL expressions.

The reference splits documents two ways:
- char-window passages, size 300 / overlap 50
  (reference: knowledge_model/processing/passage_splitter.py:13-28)
- sentence-aware word-budget chunks, 1000 words
  (reference: knowledge_model/processing/text_cleaner.py:136-168)

Both are expressed here with ``sequence`` + ``transform`` + ``posexplode``
— one row in, N rows out, no UDF, fully inside codegen.  At 100 TB the
explode is embarrassingly parallel and shuffles nothing.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PASSAGE_SIZE = 300  # reference: passage_splitter.py:13
PASSAGE_OVERLAP = 50  # reference: passage_splitter.py:14
WORD_CHUNK_SIZE = 1000  # reference: text_cleaner.py:67


def passage_starts(col: Column, size: int = PASSAGE_SIZE, overlap: int = PASSAGE_OVERLAP) -> Column:
    """Array of 0-based char offsets for overlapping windows."""
    step = size - overlap
    if step <= 0:
        raise ValueError("overlap must be < size")
    return F.sequence(F.lit(0), F.greatest(F.length(col) - 1, F.lit(0)), F.lit(step))


def split_passages(
    col: Column, size: int = PASSAGE_SIZE, overlap: int = PASSAGE_OVERLAP
) -> Column:
    """``array<string>`` of overlapping char-window passages.

    Mirrors split_passages (reference: passage_splitter.py:16-28): windows
    of ``size`` chars advancing by ``size - overlap``; trailing windows
    shorter than the overlap are still emitted by the reference only when
    they begin before end-of-text, which the sequence bound guarantees.
    Empty/null text yields an empty array.
    """
    starts = passage_starts(col, size, overlap)
    arr = F.transform(starts, lambda i: F.substring(col, i + 1, size))
    return F.when(F.coalesce(F.length(col), F.lit(0)) == 0, F.array().cast("array<string>")).otherwise(
        F.filter(arr, lambda p: F.length(p) > 0)
    )


def split_words(col: Column) -> Column:
    """``array<string>`` of whitespace-separated words (empty-safe)."""
    return F.filter(F.split(F.trim(col), r"\s+"), lambda w: F.length(w) > 0)


SENTENCE_RE = r"[^.!?]+[.!?]*"  # runs of text ending at sentence terminators


def sentence_chunks_udf(chunk_size: int = WORD_CHUNK_SIZE):
    """Arrow-batched pandas UDF: text → ``array<string>`` sentence-aware
    word-budget chunks.

    Mirrors chunk_text (reference: text_cleaner.py:136-160): walk
    sentences in order; when adding the next sentence would exceed
    ``chunk_size`` words and the current chunk is non-empty, flush and
    start a new chunk (greedy reset — NOT a running-sum bucket, which
    would split mid-greedy-boundary).  Chunks are single-space re-joins
    of their words, exactly like the reference's " ".join.

    Sentence boundaries come from a regex (terminator-run split) — the
    punkt-tokenizer seam: swap ``_sentences`` for nltk.sent_tokenize when
    the library is available.  This is the one chunker that
    genuinely needs Python (sequential greedy state), hence a pandas UDF
    rather than a column expression; the greedy walk is O(words) per doc
    and embarrassingly parallel across docs.
    """
    import re as _re

    pat = _re.compile(SENTENCE_RE)

    @F.pandas_udf("array<string>")
    def udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            chunks: list[str] = []
            cur: list[str] = []
            cnt = 0
            for sent in pat.findall(t or ""):
                ws = sent.split()
                if not ws:
                    continue
                if cnt + len(ws) > chunk_size and cur:
                    chunks.append(" ".join(cur))
                    cur, cnt = [], 0
                cur.extend(ws)
                cnt += len(ws)
            if cur:
                chunks.append(" ".join(cur))
            out.append(chunks)
        return pd.Series(out)

    return udf


def explode_sentence_chunks(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    chunk_size: int = WORD_CHUNK_SIZE,
) -> DataFrame:
    """One row per sentence-aware chunk with its ordinal and word count."""
    udf = sentence_chunks_udf(chunk_size)
    return df.select(
        *id_cols,
        F.posexplode(udf(F.col(text_col))).alias("chunk_index", "chunk_text"),
    ).withColumn("n_words", F.size(F.split(F.col("chunk_text"), " ")))


def explode_passages(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    size: int = PASSAGE_SIZE,
    overlap: int = PASSAGE_OVERLAP,
) -> DataFrame:
    """One row per passage with its ordinal and char offsets.

    ``posexplode`` preserves position, replacing the reference's
    enumerate-within-article chunk_index (reference: pipeline.py:203-205,
    parse_pdfs.py:85-88).
    """
    step = size - overlap
    exploded = df.select(
        *id_cols,
        F.posexplode(split_passages(F.col(text_col), size, overlap)).alias(
            "chunk_index", "chunk_text"
        ),
    )
    return exploded.withColumn("char_start", F.col("chunk_index") * step).withColumn(
        "char_end", F.col("char_start") + F.length("chunk_text")
    )


def content_defined_chunks(
    df: DataFrame,
    text_col: str,
    id_cols: list[str],
    k: int = 8,
    divisor: int = 512,
) -> DataFrame:
    """Content-defined chunking: cut where the rolling k-gram hash of the
    LOCAL text ≡ 0 (mod ``divisor``) — boundaries move with the content,
    not the offsets.

    Why a 100 TB dedup pipeline wants this over fixed windows
    (:func:`split_passages`): inserting one sentence into a document
    shifts EVERY fixed-window chunk after the edit (all their hashes
    change → the whole doc re-processes as "new"), while content-defined
    boundaries depend only on each position's k-char neighborhood, so
    every chunk outside the edited region keeps its identity — the
    incremental-dedup property rsync/LBFS-style CDC exists for (Muthitacharoen
    et al., SOSP'01).  Expected chunk length is ``divisor`` chars
    (geometric gap law); no min/max enforcement here, keeping the rule a
    pure per-position predicate that both engines express identically
    (greedy min/max clamps are inherently sequential and belong to a
    post-pass, not the scale path).

    Plan shape: the hash chain is the same staged HOF pipeline as the
    winnowing fingerprint (localCheckpoint barriers stop CollapseProject
    from re-inlining the O(len·k) hash lambda into every consumer);
    boundary selection, segmentation, and slicing are pure JVM array
    expressions — zero Python, scan-speed.

    Output: one row per chunk with ordinal, char offsets, length, and an
    md5 chunk fingerprint (the join key for chunk-level dedup).
    """
    from knowledge_model_spark.functions.text_analysis import (
        _char_codes,
        bind1,
        rolling_gram_hashes,
    )

    # One collapse-safe expression (bind1 lambda chaining) instead of the
    # former two staged checkpoint jobs: codes, the hash array, and the
    # cut list are each bound ONCE per row, so no HOF stage re-inlines
    # its producer (values identical — same algebra, same fold order).
    def _segs(h):
        # cut offsets (0-based char positions AFTER the triggering gram):
        # gram starting at 1-based i covers chars [i, i+k-1] → cut at i+k-1
        cuts = F.transform(
            F.filter(
                F.sequence(F.lit(1), F.greatest(F.size(h), F.lit(1))),
                lambda i: (i <= F.size(h))
                & (F.element_at(h, i) % divisor == 0),
            ),
            lambda i: i + F.lit(k - 1),
        )
        return bind1(
            cuts,
            lambda cts: F.filter(
                F.zip_with(
                    F.concat(F.array(F.lit(0)), cts),
                    F.concat(cts, F.array(F.length(text_col))),
                    lambda s, e: F.struct(s.alias("s"), e.alias("e")),
                ),
                lambda se: se["e"] > se["s"],
            ),
        )

    segs = bind1(
        _char_codes(F.col(text_col)),
        lambda c: bind1(rolling_gram_hashes(c, k), _segs),
    )
    out = df.select(
        *id_cols,
        F.col(text_col).alias("__t"),
        F.posexplode(segs).alias("chunk_index", "__se"),
    )
    chunk_text = F.substring(
        F.col("__t"), F.col("__se.s") + 1, F.col("__se.e") - F.col("__se.s")
    )
    return out.select(
        *id_cols,
        "chunk_index",
        F.col("__se.s").alias("char_start"),
        (F.col("__se.e") - F.col("__se.s")).alias("chunk_len"),
        F.md5(chunk_text).alias("chunk_fp"),
    )
