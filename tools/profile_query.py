#!/usr/bin/env python
"""Isolate and time registered queries with the noop sink (guide §1.4).

Usage: python tools/profile_query.py [--reps N] [--explain-dir DIR] name...

Times `spec.fn(spark, SF_DIR)` + noop write per rep (computation only, no
collect/py4j row transfer), prints per-rep seconds, and optionally writes
`.explain("formatted")` output per query to DIR/<name>.txt.  Honors
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    args = ap.parse_args()

    from knowledge_model_spark.plans import load_registry
    from knowledge_model_spark.session import get_spark

    spark = get_spark("kms-profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_registry()

    # same warmup as bench.py so first-query timings aren't cold-start
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().count()
    _noop = F.pandas_udf(lambda s: s, "long")
    cpus = spark.sparkContext.defaultParallelism
    spark.range(100_000).repartition(cpus).select(_noop("id")).count()
    _snoop = F.pandas_udf(lambda s: s.str.len(), "long")
    spark.range(100_000).repartition(cpus).select(
        _snoop(F.format_string("warm-%d", "id")).alias("n")
    ).agg(F.sum("n")).collect()
    from knowledge_model_spark.session import load_tables

    for df in load_tables(spark, SF_DIR).values():
        df.limit(1).count()

    for name in args.names:
        spec = registry.get(name)
        if spec is None:
            print(f"{name}: NOT REGISTERED")
            continue
        times = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = spec.fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(times):.3f} reps="
            + ",".join(f"{t:.3f}" for t in times)
        )
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = spec.fn(spark, SF_DIR)
            out = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(
                args.explain_dir, f"{name}{args.suffix}.txt"
            )
            with open(path, "w") as fh:
                fh.write(out)
            print(f"  plan -> {path}")


if __name__ == "__main__":
    main()
