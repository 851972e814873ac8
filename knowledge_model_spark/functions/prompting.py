"""Prompt assembly as column expressions (reference:
inference/prompt_utils.py:43-111, main.py:404).

Generation itself is out of engine scope, but assembling the prompt is
batch data processing: template sections joined with blank lines, the
retrieved evidence wrapped in <context> tags, and a keep-the-LAST-N
truncation (the reference truncates token ids from the front so the
user message always survives; the word-level analog here behaves the
same way).  All UDF-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the reference's system message is model persona text; the engine treats
# it as an opaque configurable string (default mirrors its shape, not its
# branding)
DEFAULT_SYSTEM_MSG = "Answer only from the provided context; reply 'insufficient evidence' when the context lacks the facts."

MAX_INPUT_WORDS = 1024  # reference: MAX_INPUT_TOKENS (token-level there)


def build_prompt(
    user_msg: Column,
    context: Column | None = None,
    system_msg: str = DEFAULT_SYSTEM_MSG,
) -> Column:
    """Assemble ### System / <context> / ### User / ### Assistant
    sections joined by blank lines (reference: prompt_utils.py:79-111,
    including the pre-seeded '• ' assistant bullet)."""
    parts = [F.concat(F.lit("### System:\n"), F.lit(system_msg.strip()))]
    if context is not None:
        parts.append(
            F.concat(F.lit("<context>\n"), F.trim(context), F.lit("\n</context>"))
        )
    parts.append(F.concat(F.lit("### User:\n"), F.trim(user_msg)))
    parts.append(F.lit("### Assistant:\n• "))
    return F.concat_ws("\n\n", *parts)


def truncate_keep_last(col: Column, max_words: int = MAX_INPUT_WORDS) -> Column:
    """Keep only the LAST ``max_words`` whitespace words — the reference's
    tokens[-max_len:] (prompt_utils.py:70-72): front-truncation preserves
    the most recent turns and the user question."""
    words = F.filter(F.split(col, r"\s+"), lambda w: F.length(w) > 0)
    n = F.size(words)
    return F.when(n <= max_words, col).otherwise(
        F.array_join(F.slice(words, n - max_words + 1, max_words), " ")
    )


def render_chat_with_spans(
    df,
    conv_col: str,
    order_col: str,
    user_col: str,
    asst_col: str,
):
    """Render multi-turn conversations to a chat-template string and
    compute the char-offset spans of every assistant turn — the
    loss-mask metadata an SFT trainer needs (only assistant tokens get
    loss; the spans are what the collator masks by).

    Returns one row per conversation: (conv, n_turns, rendered,
    asst_spans) where ``asst_spans`` is ``start:end;start:end`` in turn
    order (0-based char offsets into ``rendered``, end exclusive) — a
    scalar string, not an array, so it survives any result
    canonicalizer.

    Shape: ONE shuffle on the conversation key; the offset window and
    the final groupBy share that partitioning (Exchange reuse), and the
    offsets are pure length arithmetic — no UDF, no second pass over
    the text.
    """
    from pyspark.sql import DataFrame, Window  # noqa: F401

    sys_seg = "<|system|>\nYou are a helpful assistant.\n"
    turn_txt = F.concat(
        F.lit("<|user|>\n"),
        F.col(user_col),
        F.lit("\n<|assistant|>\n"),
        F.col(asst_col),
        F.lit("\n"),
    )
    user_seg_len = (
        F.lit(len("<|user|>\n"))
        + F.length(user_col)
        + F.lit(len("\n<|assistant|>\n"))
    )
    w = (
        Window.partitionBy("conv")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    turns = df.select(
        F.col(conv_col).alias("conv"),
        F.col(order_col).alias("ord"),
        turn_txt.alias("turn_txt"),
        user_seg_len.alias("user_seg_len"),
        F.length(asst_col).alias("asst_len"),
    ).withColumn(
        "start",
        F.lit(len(sys_seg))
        + F.coalesce(F.sum(F.length("turn_txt")).over(w), F.lit(0))
        + F.col("user_seg_len"),
    )
    spans = F.concat(
        F.col("start").cast("string"),
        F.lit(":"),
        (F.col("start") + F.col("asst_len")).cast("string"),
    )
    per_turn = turns.select(
        "conv", F.struct("ord", "turn_txt", spans.alias("span")).alias("t")
    )
    sorted_turns = F.array_sort(F.collect_list("t"))
    return (
        per_turn.groupBy("conv")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.concat(
                F.lit(sys_seg),
                F.array_join(
                    F.transform(sorted_turns, lambda x: x["turn_txt"]), ""
                ),
            ).alias("rendered"),
            F.array_join(
                F.transform(sorted_turns, lambda x: x["span"]), ";"
            ).alias("asst_spans"),
        )
    )
