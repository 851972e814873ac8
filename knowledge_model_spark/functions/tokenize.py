"""BPE-style subword tokenization as engine expressions.

The reference tokenizes with a HF tokenizer inside training/inference
(train_lora.py:76-112); a data pipeline needs token-level statistics at
corpus scan speed long before a model sees anything.  Two pieces:

- ``learn_bpe_merges``: the greedy BPE training loop as Spark jobs —
  ONE corpus scan reduces to a weighted word table, then each round
  counts adjacent symbol pairs over that vocab-sized table (explode +
  groupBy, map-side combined) and promotes the most frequent pair; the
  driver holds only the merge table (one pair per round, like the PQ /
  Lloyd precedent).  Deterministic: ties break lexicographically.
- ``bpe_tokens_expr`` / ``bpe_sql``: APPLY a (frozen) merge table as a
  chain of plain ``replace`` calls over space-separated symbols.  One
  left-to-right non-overlapping replace pass per merge, in rank order —
  semantics chosen precisely because Spark's ``replace`` and DuckDB's
  ``replace`` agree on it exactly, which makes tokenization
  oracle-checkable (`text_bpe_tokenize`).  This is the "fast BPE"
  application order; the per-word min-rank loop of subword-nmt differs
  only on adversarial merge tables, not greedily-learned ones.

At 100 TB the apply path is pure whole-stage-codegen string expressions
(zero Python); learning cost is (rounds × one pair-count shuffle) over
however much of the corpus you sample into it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_NORM_SQL = "regexp_replace(lower({col}), '[^a-z0-9 ]', ' ')"
# learn_bpe_merges and learn_unigram_lm train on the driver when the
# materialized distinct-word table holds at most this many rows.
DRIVER_VOCAB_GATE = 200_000


def _spaced_words(col: str) -> str:
    """Spark SQL: words of the normalized text, each as space-separated
    characters (the BPE symbol string)."""
    norm = _NORM_SQL.format(col=col)
    return (
        f"transform(filter(split({norm}, ' +'), w -> w != ''), "
        f"w -> trim(regexp_replace(w, '(.)', '$1 ')))"
    )


def _merge_chain(merges: list[tuple[str, str]], base: str) -> str:
    """Chained boundary-safe replaces: the symbol string is padded with
    spaces and every pattern carries its flanking spaces, so a merge can
    never match across symbol boundaries ('a s' inside 'a st').

    Each merge's replace is applied TWICE: a single left-to-right
    non-overlapping pass misses alternating occurrences that share a
    boundary space (' a b a b ' matches at 0 and 8, skipping 4), and the
    miss would also stall the learning loop on repetitive words.  Two
    passes resolve one level of alternation — exact for natural-text
    merge tables; pathological same-pair runs (aaaa…) may retain
    unmerged residue, identically in both engines."""
    s = f"concat(' ', {base}, ' ')"
    for a, b in merges:
        for _ in range(2):
            s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    return f"trim({s})"


def bpe_tokens_expr(col: str, merges: list[tuple[str, str]]) -> Column:
    """Array of BPE tokens for ``col`` under the frozen merge table."""
    s = _merge_chain(merges, "w")
    return F.expr(
        f"flatten(transform({_spaced_words(col)}, w -> split({s}, ' ')))"
    )


def bpe_sql(col: str, merges: list[tuple[str, str]]) -> str:
    """The identical tokenizer as DuckDB SQL text (oracle mirror)."""
    norm = f"regexp_replace(lower({col}), '[^a-z0-9 ]', ' ', 'g')"
    spaced = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    s = _merge_chain(merges, spaced)
    return (
        f"flatten(list_transform("
        f"list_filter(string_split_regex({norm}, ' +'), w -> w != ''), "
        f"w -> string_split({s}, ' ')))"
    )


def _learn_bpe_merges_local(
    vocab: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side greedy merge loop over a COLLECTED weighted word
    table — the exact arithmetic of the distributed loop below (same
    adjacent-pair counts, same (cnt desc, a asc, b asc) tie-break —
    ASCII symbols, so Python string order == Spark UTF8 binary order —
    and the same boundary-safe double-pass replace as ``_merge_chain``,
    Python ``str.replace`` being the identical non-overlapping
    left-to-right substitution as SQL ``replace``).  Equality with the
    distributed path is pinned by tests/test_tokenize.py."""
    words = [[w, n] for w, n in vocab]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        cnt: dict[tuple[str, str], int] = {}
        for w, n in words:
            syms = w.split(" ")
            for i in range(len(syms) - 1):
                cnt[(syms[i], syms[i + 1])] = cnt.get((syms[i], syms[i + 1]), 0) + n
        if not cnt:
            break
        (a, b) = min(cnt, key=lambda p: (-cnt[p], p[0], p[1]))
        merges.append((a, b))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        for entry in words:
            s = f" {entry[0]} "
            s = s.replace(pat, rep).replace(pat, rep)
            entry[0] = s.strip(" ")
    return merges


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 20,
) -> list[tuple[str, str]]:
    """Greedy BPE merge learning: ONE corpus scan, then vocab-sized work.

    The corpus is scanned exactly once, into a weighted word table
    (distinct word → occurrence count — the classic tokenizer-training
    reduction: pair counts over occurrences equal pair counts over
    distinct words weighted by frequency).  Every merge round then runs
    on that vocab-sized table: count adjacent symbol pairs weighted by
    word frequency, promote the max-count pair (ties lexicographic, so
    the table is deterministic), and apply THAT ONE merge to the table
    — sequential composition, so the incremental state is identical to
    re-running the full replace chain from scratch (each round of the
    previous formulation), at 1/n_merges the scan cost.  At 100 TB:
    one corpus shuffle + n_merges vocab-table aggregates; the driver
    sees one (pair, count) row per round.
    """
    # the ONE corpus pass: word → weight (vocab-sized, materialized so
    # no round re-reads the corpus)
    words = (
        df.select(F.explode(F.expr(_spaced_words(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    # Size-gated driver fast path (guide §1.2 step 1 — don't run 2·n
    # Spark jobs on a 31-row table): the merge loop is inherently
    # sequential and each distributed round costs two scheduler/planner
    # round trips regardless of data size (~0.3 s/round measured on the
    # sf0.1 vocab), so when the MATERIALIZED vocab is provably small it
    # is collected once — bounded, like pq_train's codebook fetch — and
    # the identical arithmetic runs in-process.  Above the gate (any
    # real corpus; vocab grows with corpus) the distributed loop below
    # is unchanged: one vocab-table aggregate per round, driver sees
    # one (pair, count) row per round.
    n_vocab = words.count()
    if n_vocab <= DRIVER_VOCAB_GATE:
        rows = [(r["w"], r["n"]) for r in words.collect()]
        return _learn_bpe_merges_local(rows, n_merges)
    merges: list[tuple[str, str]] = []
    for rnd in range(n_merges):
        pairs = (
            words.select(F.split("w", " ").alias("syms"), "n")
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] AS a, syms[i+1] AS b))"
                    )
                ).alias("p"),
                "n",
            )
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a").asc(), F.col("p.b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        p = top[0]["p"]
        merges.append((p["a"], p["b"]))
        # fold the ONE new merge into the standing table (same
        # boundary-safe double-pass replace as the apply chain);
        # checkpoint keeps lineage flat across rounds
        one = _merge_chain(merges[-1:], "w")
        words = words.select(
            F.expr(one).alias("w"), "n"
        ).localCheckpoint(eager=True)
    return merges

def viterbi_pieces(
    w: str,
    logp: dict[str, float],
    maxlen: int,
    unk_logp: float | None = None,
) -> list[str]:
    """Max-probability segmentation of word ``w`` under piece log-probs
    — the shared DP of the unigram-LM trainer's E-step and the frozen-
    vocab apply path.  Left-to-right DP; ties prefer the LONGER final
    piece (i ascending + strict > keeps the first winner).  When the
    vocab can't cover a character, ``unk_logp`` (the apply path: a
    fixed penalty per unknown single char) keeps the DP reachable;
    the trainer passes None because its singles cover every char of
    the corpus it trained on by construction.  Deterministic: all
    arithmetic is IEEE doubles evaluated in a fixed order per word."""
    import math

    m = len(w)
    dp = [0.0] + [-math.inf] * m
    back = [0] * (m + 1)
    for j in range(1, m + 1):
        best, bi = -math.inf, -1
        for i in range(max(0, j - maxlen), j):
            lp = logp.get(w[i:j])
            if lp is None:
                if unk_logp is None or j - i != 1:
                    continue
                lp = unk_logp
            if dp[i] == -math.inf:
                continue
            s = dp[i] + lp
            if s > best:
                best, bi = s, i
        dp[j], back[j] = best, bi
    pieces: list[str] = []
    j = m
    while j > 0:
        i = back[j]
        pieces.append(w[i:j])
        j = i
    pieces.reverse()
    return pieces


def wordpiece_pieces(w: str, vocab: set[str], maxlen: int) -> list[str]:
    """Greedy longest-match-first WordPiece segmentation of ``w``.

    The production WordPiece apply algorithm (Wu et al. 2016; the
    BERT/HF tokenizer): at each position take the LONGEST vocab piece
    that prefixes the remainder — word-initial pieces match bare,
    word-internal ones with the ``##`` continuation prefix — and emit
    ``[UNK]`` for the WHOLE word when any position has no match (the
    all-or-nothing contract, unlike the unigram DP's per-char
    penalty).  Deterministic: pure string matching, no scores."""
    out: list[str] = []
    i, m = 0, len(w)
    while i < m:
        j = min(m, i + maxlen)
        piece = None
        while j > i:
            sub = w[i:j] if i == 0 else "##" + w[i:j]
            if sub in vocab:
                piece = sub
                break
            j -= 1
        if piece is None:
            return ["[UNK]"]
        out.append(piece)
        i = j
    return out


def learn_unigram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 64,
    seed_multi: int = 192,
    max_piece_len: int = 6,
    n_rounds: int = 4,
) -> list[tuple[str, int, float]]:
    """Unigram-LM subword vocabulary training (Kudo, ACL'18 — the
    SentencePiece unigram model), Spark-shaped and fully deterministic.

    The trainer twin of :func:`learn_bpe_merges` on the other classic
    tokenizer-training algorithm.  Same corpus reduction: ONE scan into
    the weighted distinct-word table; ALL subsequent work is
    vocab-sized.  Then the Kudo loop, with every stochastic choice
    replaced by a deterministic schedule:

    1. **Seed**: candidate pieces = every single character occurring in
       the word table (always kept — guarantees segmentation coverage
       by construction) plus the ``seed_multi`` most frequent
       substrings of length 2..``max_piece_len`` (ties lexicographic).
       Substring counting explodes the DISTINCT words weighted by
       frequency — O(len·max_piece_len) rows per distinct word, never
       per occurrence.
    2. **E-step** (hard EM — the Viterbi variant, chosen over
       forward-backward because max+argmax over IEEE doubles with a
       fixed tie rule is bit-deterministic where a soft posterior's
       float sums would be order-sensitive): segment each distinct
       word under the current piece log-probs with left-to-right DP
       (ties prefer the LONGER final piece), accumulate piece counts
       weighted by word frequency.  Runs as a numpy-free kernel inside
       ``mapInPandas`` over the word table (the ROUGE-L precedent) —
       token payloads never leave executors; the driver sees one
       vocab-sized (piece, count) table per round.
    3. **M-step**: p(piece) = (count + 1) / (total + |V|) — add-1
       smoothing so an unchosen single keeps nonzero mass (coverage
       again).
    4. **Prune schedule** (deterministic — replaces Kudo's
       loss-ranked 20% shrink): after each E-step except the last,
       drop the bottom 20% of MULTI-char pieces by (count asc, piece
       asc); singles are never pruned.  The final round trims multis
       to ``vocab_size − |singles|`` by (count desc, piece asc).

    Returns [(piece, count, logprob)] sorted by (prob desc, piece asc)
    — the frozen-prefix gate in tests/test_tokenize.py pins the exact
    learned prefix at two SFs, and a repartitioning probe pins
    determinism (counts are exact ints; the only floats are the
    per-word DP scores, bit-identical per word regardless of
    partitioning).  At 100 TB: one corpus shuffle, then n_rounds
    vocab-table jobs whose cost scales with DISTINCT words, not
    occurrences; driver state is the ≤(singles+seed_multi)-row vocab
    (the Lloyd/PQ bounded-collect contract).

    Raises ``ValueError`` when the corpus alphabet alone exceeds
    ``vocab_size``: singles are never pruned (coverage guarantee), so
    no vocabulary of the requested size exists — returning
    ``len(singles)`` pieces anyway would silently violate the contract
    (r10 ADVICE).
    """
    words = (
        df.select(
            F.explode(
                F.expr(
                    "filter(split("
                    + _NORM_SQL.format(col=text_col)
                    + ", ' +'), w -> w != '')"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    # Size-gated driver fast path (the learn_bpe_merges recipe,
    # guide §1.2 step 1): the EM loop runs 2 seed jobs + n_rounds
    # mapInPandas/shuffle/collect round trips whose cost at this
    # scale is pure scheduler overhead.  When the MATERIALIZED
    # distinct-word table is provably small it is collected once —
    # bounded, the pq_train codebook-fetch contract — and the
    # identical arithmetic runs in-process (exact integer counts,
    # the same viterbi_pieces DP, ASCII-only words so Python and
    # Spark orderings agree; equality pinned in
    # tests/test_tokenize.py).  Above the gate — vocab grows with
    # any real corpus — the distributed path is byte-for-byte
    # unchanged.  The checkpoint's blocks are freed by Spark's
    # ContextCleaner once ``words`` is garbage-collected
    # (``DataFrame.unpersist`` does not reach a local checkpoint).
    if words.count() <= DRIVER_VOCAB_GATE:
        rows = [(r["w"], r["n"]) for r in words.collect()]
        return _learn_unigram_lm_from_rows(
            rows, vocab_size, max_piece_len, seed_multi, n_rounds
        )
    return _learn_unigram_lm_from_words(
        words, vocab_size, max_piece_len, seed_multi, n_rounds
    )


def _unigram_em_loop(
    singles: dict[str, int],
    multi: list[tuple[str, int]],
    vocab_size: int,
    n_rounds: int,
    viterbi_counts,
):
    """The Kudo hard-EM loop shared by the distributed and driver-local
    paths: identical M-step, prune schedule and tie-breaks; only the
    E-step executor (``viterbi_counts``: logp dict → exact int piece
    counts) differs.  Both executors call the same ``viterbi_pieces``
    DP and sum exact integers, so the paths are bit-identical."""
    import math

    counts: dict[str, int] = dict(singles)
    counts.update(dict(multi))
    if not counts:
        return []  # empty corpus — callers emit a schema-correct empty table
    if len(singles) > int(vocab_size):
        raise ValueError(
            f"vocab_size={vocab_size} is smaller than the corpus "
            f"alphabet ({len(singles)} distinct characters); singles "
            "are never pruned, so the requested vocabulary size is "
            "unsatisfiable — raise vocab_size to at least the "
            "alphabet size"
        )

    def _logp(cnts: dict[str, int]) -> dict[str, float]:
        tot = sum(cnts.values()) + len(cnts)
        return {p: math.log((c + 1) / tot) for p, c in cnts.items()}

    n_keep_final = max(0, int(vocab_size) - len(singles))
    for rnd in range(int(n_rounds)):
        used = viterbi_counts(_logp(counts))
        new_counts = {p: used.get(p, 0) for p in counts}
        multis = sorted(
            ((p, c) for p, c in new_counts.items() if len(p) > 1),
            key=lambda x: (x[1], x[0]),
        )
        if rnd < n_rounds - 1:
            n_drop = min(
                (len(multis) + 4) // 5, max(0, len(multis) - n_keep_final)
            )
            drop = {p for p, _ in multis[:n_drop]}
        else:
            keep = sorted(multis, key=lambda x: (-x[1], x[0]))[:n_keep_final]
            drop = {p for p, _ in multis} - {p for p, _ in keep}
        counts = {p: c for p, c in new_counts.items() if p not in drop}

    logp = _logp(counts)
    out = sorted(counts.items(), key=lambda x: (-logp[x[0]], x[0]))
    return [(p, c, logp[p]) for p, c in out]


def _learn_unigram_lm_from_rows(
    rows: list[tuple[str, int]],
    vocab_size: int,
    max_piece_len: int,
    seed_multi: int,
    n_rounds: int,
):
    """Driver-side mirror of ``_learn_unigram_lm_from_words`` over a
    COLLECTED weighted word table — the exact arithmetic of the
    distributed path (words are ``[a-z0-9]+`` by the normalizer, so
    Python character/substring/sort semantics match Spark's UTF8
    ones exactly; all counts are exact integer sums; the Viterbi DP is
    the same ``viterbi_pieces`` call).  Equality with the distributed
    path is pinned by tests/test_tokenize.py."""
    from collections import Counter

    singles_c: Counter = Counter()
    multi_c: Counter = Counter()
    L = int(max_piece_len)
    for w, n in rows:
        for ch in w:
            singles_c[ch] += n
        # substrings of length 2..min(L, len-j) from each 0-based j —
        # the same enumeration as the SQL sub_expr (1-based i = j + 1)
        for j in range(len(w) - 1):
            for l in range(2, min(L, len(w) - j) + 1):
                multi_c[w[j : j + l]] += n
    multi = sorted(multi_c.items(), key=lambda x: (-x[1], x[0]))[
        : int(seed_multi)
    ]

    def _viterbi_counts_local(logp: dict[str, float]) -> dict[str, int]:
        maxlen = max(len(p) for p in logp)
        agg: Counter = Counter()
        for w, n in rows:
            for piece in viterbi_pieces(w, logp, maxlen):
                agg[piece] += int(n)
        return dict(agg)

    return _unigram_em_loop(
        dict(singles_c), multi, vocab_size, n_rounds, _viterbi_counts_local
    )


def _learn_unigram_lm_from_words(
    words, vocab_size: int, max_piece_len: int, seed_multi: int, n_rounds: int
):
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    # seed candidates: singles (always kept) + top multi substrings
    singles = {
        r["c"]: r["cnt"]
        for r in words.select(
            F.explode(F.split("w", "")).alias("c"), "n"
        )
        .filter(F.col("c") != "")
        .groupBy("c")
        .agg(F.sum("n").alias("cnt"))
        .collect()
    }
    L = int(max_piece_len)
    sub_expr = (
        "flatten(transform(sequence(1, length(w) - 1), "
        f"i -> transform(sequence(2, least({L}, length(w) - i + 1)), "
        "l -> substring(w, i, l))))"
    )
    multi = [
        (r["p"], r["cnt"])
        for r in words.filter(F.length("w") >= 2)
        .select(F.explode(F.expr(sub_expr)).alias("p"), "n")
        .groupBy("p")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("p").asc())
        .limit(int(seed_multi))
        .collect()
    ]

    def _viterbi_counts(logp: dict[str, float]) -> dict[str, int]:
        maxlen = max(len(p) for p in logp)

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                agg: Counter = Counter()
                for w, n in zip(pdf["w"], pdf["n"]):
                    for piece in viterbi_pieces(w, logp, maxlen):
                        agg[piece] += int(n)
                yield pd.DataFrame(
                    {
                        "piece": pd.Series(list(agg.keys()), dtype="object"),
                        "cnt": pd.Series(list(agg.values()), dtype="int64"),
                    }
                )

        return {
            r["piece"]: r["cnt"]
            for r in words.mapInPandas(kernel, "piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }

    return _unigram_em_loop(
        singles, multi, vocab_size, n_rounds, _viterbi_counts
    )
