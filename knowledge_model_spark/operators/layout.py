"""Multi-dimensional data layout: Z-order (Morton) clustering for scan
pruning.

The 100 TB problem this solves: a table partitioned/sorted by ONE key
prunes scans on that key only — a filter on any other column reads
everything.  Interleaving the bits of two (or more) normalized keys
gives a single sort key whose contiguous ranges are small rectangles in
key space, so parquet files (and their row groups) carry NARROW min/max
ranges on EVERY interleaved dimension; engine-side file skipping and
row-group pruning then work for filters on any of them.  This is the
layout trick behind Delta/Iceberg OPTIMIZE ZORDER, here as plain
DataFrame ops: normalize → interleave → repartitionByRange on the key →
sortWithinPartitions → write.

Everything is integer arithmetic (exact, engine-portable): values are
normalized to ``2**bits`` uniform buckets with ``((x - min) * nb) div
(max - min + 1)`` and interleaved with shift/mask expressions, so the
key is oracle-checkable bit-for-bit (layout_zorder_keys).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_expr(
    col: str, lo: int | str, hi: int | str, n_buckets: int, div_op: str = "div"
) -> str:
    """SQL text mapping an integer column in [lo, hi] to [0, n_buckets).

    Exact integer arithmetic — identical in Spark (``div``) and DuckDB
    (``//``), which is what makes the z-key oracle-checkable.  ``lo`` /
    ``hi`` may be literals or SQL text (e.g. a scalar subquery).
    """
    return (
        f"(CAST((({col}) - ({lo})) AS BIGINT) * {n_buckets}) "
        f"{div_op} ((({hi}) - ({lo})) + 1)"
    )


def morton_expr(bucketed: Sequence[str], bits: int) -> str:
    """SQL text interleaving ``bits`` low bits of each bucketed input.

    Dimension 0 owns the most-significant position within each bit
    group (every term fully parenthesized — `|`/`<<` precedence differs
    across engines).
    """
    d = len(bucketed)
    terms = []
    for b in range(bits):
        for i, col in enumerate(bucketed):
            shift = b * d + (d - 1 - i)
            terms.append(f"(((({col}) >> {b}) & 1) << {shift})")
    return "(" + " | ".join(terms) + ")"


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bounds: Sequence[tuple[int, int]],
    bits: int = 16,
) -> DataFrame:
    """Append the Morton key column ``zkey`` interleaving ``cols`` (integer
    columns with driver-known [lo, hi] ``bounds`` — two scalars per
    dimension, from a prior aggregate or catalog stats)."""
    nb = 2**bits
    bucketed = [
        f"({bucket_expr(c, lo, hi, nb)})" for c, (lo, hi) in zip(cols, bounds)
    ]
    return df.withColumn("zkey", F.expr(morton_expr(bucketed, bits)))


def write_zordered(
    df: DataFrame,
    cols: Sequence[str],
    bounds: Sequence[tuple[int, int]],
    path: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    z-curve over ``cols``.

    ``repartitionByRange`` on the key assigns each file a contiguous
    z-range (a small rectangle in key space → narrow per-file min/max on
    EVERY dim); ``sortWithinPartitions`` additionally orders row groups
    inside each file so row-group-level stats prune too.  At 100 TB this
    is the difference between a point-ish query reading a few files and
    reading the whole table; file count scales with data, the shape
    doesn't change.
    """
    keyed = zorder_key(df, cols, bounds, bits=bits)
    (
        keyed.repartitionByRange(n_files, F.col("zkey"))
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
