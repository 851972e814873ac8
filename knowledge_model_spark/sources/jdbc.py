"""JDBC table source wrapper (SURVEY §2.1 "DB table scan").

The reference scans its articles table through the SQLAlchemy ORM
(reference: scripts/test_db_contents.py:17-27, db/db_session.py:16-18).
The Spark analog is ``spark.read.jdbc``; this wrapper adds the two
things a 100 TB-adjacent scan needs and the bare reader makes easy to
get wrong:

- **partitioned reads**: ``partition_column`` + bounds + N → N parallel
  range-predicated scans instead of one executor pulling the whole
  table through a single connection;
- **pushdown**: a ``query`` subselect (or filters on the returned
  DataFrame — Catalyst pushes them into the JDBC source) keeps the
  database from shipping unneeded rows/columns.

``jdbc_options`` is a pure function, unit-tested without an endpoint;
apply it with ``spark.read.format("jdbc").options(**opts).load()``.
"""

from __future__ import annotations


def jdbc_options(
    url: str,
    table: str | None = None,
    *,
    query: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | str | None = None,
    upper_bound: int | str | None = None,
    num_partitions: int | None = None,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Validated option dict for a partition-parallel JDBC scan, fetching
    10,000 rows per round trip unless ``properties`` sets ``fetchsize``.

    Exactly one of ``table`` / ``query``.  Partitioned reads require the
    full (column, lower, upper, N) quadruple — Spark silently falls back
    to a single-connection scan if any is missing, which is precisely
    the failure mode this wrapper exists to prevent.
    """
    if (table is None) == (query is None):
        raise ValueError("exactly one of table= or query= is required")
    if query is not None and partition_column is not None:
        # Spark requires partitioning on dbtable; wrap the query instead.
        table, query = f"({query}) AS __sub", None
    opts: dict[str, str] = {"url": url, "fetchsize": "10000"}
    if query is not None:
        opts["query"] = query
    else:
        opts["dbtable"] = str(table)
    part_args = (partition_column, lower_bound, upper_bound, num_partitions)
    if any(a is not None for a in part_args):
        if any(a is None for a in part_args):
            raise ValueError(
                "partitioned JDBC reads need ALL of partition_column, "
                "lower_bound, upper_bound, num_partitions (a partial spec "
                "silently degrades to a single-connection scan)"
            )
        opts.update(
            partitionColumn=str(partition_column),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    for k, v in (properties or {}).items():
        opts[k] = str(v)
    return opts

