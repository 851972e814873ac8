#!/usr/bin/env python
"""Per-Python-task cost of an engine session, in one command.

Prints the median wall time (ms) of three jobs in a ``get_spark`` session:
a one-row Python ``map`` (one Python task), a ``createDataFrame(list)``
collect (an RDD of pickled rows, one Python task per partition) and a
``spark.range(1)`` collect (no Python task, the JVM-only floor).

    python tools/python_task_cost.py            # 7 timed runs per job
    python tools/python_task_cost.py 15
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from knowledge_model_spark.session import get_spark  # noqa: E402


def _median_ms(job, runs: int) -> float:
    job()  # warm: starts the Python workers, compiles the plan
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        job()
        times.append(time.perf_counter() - t0)
    return 1000 * statistics.median(times)


def main(runs: int) -> None:
    spark = get_spark("python_task_cost")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jobs = {
        "python_map_1row": lambda: sc.parallelize([1], 1).map(lambda x: x + 1).collect(),
        "create_dataframe_list_collect": lambda: spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, s string"
        ).collect(),
        "range1_collect": lambda: spark.range(1).collect(),
    }
    for name, job in jobs.items():
        print(f"{name}: {_median_ms(job, runs):.1f} ms")
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 7)
