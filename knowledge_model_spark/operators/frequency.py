"""Heavy-hitter detection without a full-cardinality shuffle.

Misra–Gries (1982) summaries computed per partition in one Arrow pass,
merged driver-side into a candidate set with the classic superset
guarantee — every item with global frequency > n/(k+1) is present —
then an EXACT count restricted to candidates only.  The output is
therefore exact (and DuckDB-oracle-checkable), while the expensive part
never shuffles the full distinct-key space:

- A naive `groupBy(token).count()` over a 100 TB corpus shuffles every
  distinct token (billions of keys, almost all below threshold).
- Here the only full-data pass is map-side (bounded k-entry summaries
  per partition); the exact verification groupBy runs on rows whose
  token is in the bounded candidate set — the shuffle is proportional
  to HEAVY traffic, not vocabulary size.

The reference's corpus-wide frequency work (stopword/boilerplate
scans) is the 2-line special case; this is the general mergeable
primitive (reference: knowledge_model/main.py:283-291 dedups repeated
answer lines — a per-document heavy-hitter cut).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_partials_kernel(col: str, k: int):
    """mapInPandas kernel: one Misra–Gries summary per PARTITION (state
    carried across the partition's Arrow batches), emitted as
    (item, mg_count) rows plus one (NULL, n_rows) row carrying the
    partition's row count so the caller gets n for free."""

    def gen(batches):
        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            vals = pdf[col]
            n_rows += len(vals)
            for v in vals:
                if v is None:
                    continue
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        out = pd.DataFrame(
            {"item": list(counters.keys()), "mg_count": list(counters.values())}
        )
        out = pd.concat(
            [out, pd.DataFrame({"item": [None], "mg_count": [n_rows]})],
            ignore_index=True,
        )
        yield out

    return gen


def heavy_hitters(
    df: DataFrame,
    col: str,
    threshold_frac: float,
) -> DataFrame:
    """Items of ``df[col]`` occurring in ≥ ``threshold_frac`` of rows,
    with their EXACT counts — (item, cnt).

    Per-partition Misra–Gries with capacity k = ⌊2/threshold_frac⌋
    (a 2× safety margin over the 1/threshold_frac items that can pass): merging the per-partition summaries by key union
    can only widen the candidate set, so every item above n·threshold
    survives into candidates (no false negatives).  Exact counts are
    then computed over candidate rows only (`isin` on a bounded literal
    list pushes to the scan), and the threshold filter makes the result
    exact — identical to the full groupBy, at a fraction of its
    shuffle.
    """
    if not (0 < threshold_frac <= 1):
        raise ValueError("threshold_frac must be in (0, 1]")
    k = max(1, int(2.0 / threshold_frac))
    partials = df.select(F.col(col).alias(col)).mapInPandas(
        _mg_partials_kernel(col, k),
        f"item {dict(df.dtypes)[col]}, mg_count long",
    ).collect()
    n = sum(r["mg_count"] for r in partials if r["item"] is None)
    candidates = sorted({r["item"] for r in partials if r["item"] is not None})
    if n == 0 or not candidates:
        return (
            df.select(F.col(col).alias("item"))
            .limit(0)
            .withColumn("cnt", F.lit(0).cast("long"))
        )
    min_cnt = math.ceil(n * threshold_frac)
    return (
        df.filter(F.col(col).isin(candidates))
        .groupBy(F.col(col).alias("item"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= F.lit(min_cnt))
    )
