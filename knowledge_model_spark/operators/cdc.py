"""Change-data-capture primitives: apply a change log, diff snapshots.

The lakehouse pair every warehouse pipeline needs (Delta/Iceberg expose
them as MERGE + Change Data Feed; here they are plain DataFrame ops):

- :func:`cdc_apply_latest` — collapse an (op, key, seq, payload) change
  log to the final table state: last write wins per key, delete
  tombstones drop the key.  One window over the key — a single Exchange
  on the key, WindowGroupLimit prunes losers map-side; the log is never
  collected or re-sorted globally.
- :func:`cdc_snapshot_diff` — given two snapshots of a keyed table,
  emit the minimal changelog (I/U/D rows) that transforms old into new.
  One full-outer join on the key; unchanged rows are filtered by a
  null-safe column comparison (<=> handles NULL payloads correctly).

The reference's upsert (`sources/corpus.py::upsert_partitioned`,
latest-wins partition overwrite) is `cdc_apply_latest` fused with a
sink; SCD2 (`operators/relational.py::scd2_collapse`) is the
history-keeping sibling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cdc_apply_latest(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
) -> DataFrame:
    """Final state after applying the change log: for every key keep
    the highest-``seq_col`` row (ties break to the delete, then by ``op``
    descending — a deterministic total order), drop it if that row is a
    delete tombstone (``op = 'D'``).  Output drops the op/seq bookkeeping
    columns."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(),
        (F.col("op") == "D").desc(),
        F.col("op").desc(),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("op") != "D")
    )
    return latest.drop("__rn", "op", seq_col)


def cdc_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Minimal I/U/D changelog transforming ``old`` into ``new``.

    Returns the NEW row values for I/U (and the old key for D) plus an
    ``op`` column.  Null-safe equality (``<=>``) on every non-key
    column makes NULL payloads compare correctly; at scale this is one
    co-partitioned full-outer join on the key."""
    value_cols = [c for c in new.columns if c not in key_cols]
    if set(old.columns) != set(new.columns):
        raise ValueError("snapshots must share a schema")
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in old.columns]
    )
    cond = [F.col(f"__o_{k}") == F.col(k) for k in key_cols]
    j = new.join(o, cond, "full_outer")
    new_key_present = F.col(list(key_cols)[0]).isNotNull()
    old_key_present = F.col(f"__o_{list(key_cols)[0]}").isNotNull()
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"__o_{c}"))
    op = (
        F.when(~old_key_present, F.lit("I"))
        .when(~new_key_present, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    out_cols = [
        F.coalesce(F.col(k), F.col(f"__o_{k}")).alias(k) for k in key_cols
    ] + [F.col(c).alias(c) for c in value_cols]
    return j.withColumn("op", op).filter(F.col("op").isNotNull()).select(
        "op", *out_cols
    )
