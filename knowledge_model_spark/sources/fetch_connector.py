"""Rate-limited partition-parallel fetch connector (pattern + mock).

Re-expresses the reference's ingest fetch machinery — ESearch page loop,
ESummary batches, per-article body cascade FULL→PDF→ABSTRACT, retries
with exponential backoff+jitter, and the quarantine dead-letter
(reference: ingestion/fetch_pubmed.py:108-146,149-184,275-299,317-410,
83-90; pdf_async.py:39-43) — as a ``mapPartitions`` connector:

- Spark's task parallelism replaces the ThreadPoolExecutor(8) and the
  asyncio Semaphore(10) fan-outs (fetch_pubmed.py:77,364; pdf_async.py).
- Each partition holds ONE client/session (connection reuse,
  fetch_pubmed.py:40-61) and ONE token bucket, so a cluster of E
  executors never exceeds E × rate requests/sec — set
  ``rate_per_partition = global_budget / num_partitions``.
- Failures after max_retries yield quarantine rows instead of raising,
  splitting the output into (fetched, dead_letter) exactly like the
  reference's quarantine TSV.

No live network is ever touched in tests: the ``fetcher`` argument is any
callable; tests inject deterministic/flaky fakes (SURVEY.md §7: "test
with a mock server, never live NCBI").
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FETCH_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("section", T.StringType()),  # FULL | ABSTRACT | NONE
        T.StructField("ok", T.BooleanType()),
        T.StructField("reason", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
    ]
)


class TokenBucket:
    """Per-partition token bucket (reference analog: AsyncLimiter 10 rps,
    pdf_async.py:39-43; NCBI sleep throttle, fetch_pubmed.py:69-73)."""

    def __init__(self, rate: float, capacity: float | None = None, clock=time.monotonic):
        self.rate = rate
        self.capacity = capacity if capacity is not None else max(1.0, rate)
        self.tokens = self.capacity
        self.clock = clock
        self.last = clock()
        self.waited = 0.0

    def acquire(self, sleep=time.sleep) -> None:
        # 1e-9 epsilon + minimum sleep granule guard against FP spin
        # (need can underflow below clock resolution).
        while True:
            now = self.clock()
            self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= 1.0 - 1e-9:
                self.tokens = max(0.0, self.tokens - 1.0)
                return
            need = max((1.0 - self.tokens) / self.rate, 1e-4)
            self.waited += need
            sleep(need)


def fetch_with_retries(
    key: str,
    fetcher: Callable[[str], tuple[str, str]],
    bucket: TokenBucket,
    max_retries: int = 3,
) -> tuple[str, str | None, str, bool, str | None, int]:
    """One key through the retry ladder: backoff 0.5·2^(n−1) s + up to
    0.3 s jitter (reference: fetch_pubmed.py:134-145,
    inside_request_pdf.py:33-46)."""
    rng = random.Random(hash(key) & 0xFFFF)
    last_err = None
    for attempt in range(1, max_retries + 1):
        bucket.acquire()
        try:
            body, section = fetcher(key)
            return (key, body, section, True, None, attempt)
        except Exception as exc:  # noqa: BLE001 — connector boundary
            last_err = str(exc)
            if attempt < max_retries:
                time.sleep(0.5 * (2 ** (attempt - 1)) + rng.uniform(0, 0.3))
    return (key, None, "NONE", False, last_err, max_retries)


def fetch_partitioned(
    keys: DataFrame,
    key_col: str,
    fetcher_factory: Callable[[], Callable[[str], tuple[str, str]]],
    rate_per_partition: float = 10.0,
    max_retries: int = 3,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Distributed rate-limited fetch; returns (fetched, quarantine).

    ``fetcher_factory`` runs once per partition (client construction /
    connection reuse); the returned fetcher maps key → (body, section)
    or raises.  Output splits like the reference's quarantine pattern
    (fetch_pubmed.py:304-314,384-386).
    """
    df = keys.select(F.col(key_col).cast("string").alias("key"))
    if num_partitions:
        df = df.repartition(num_partitions)

    def run_partition(rows: Iterator) -> Iterator[tuple]:
        fetcher = fetcher_factory()
        bucket = TokenBucket(rate_per_partition)
        for row in rows:
            yield fetch_with_retries(
                row["key"], fetcher, bucket, max_retries=max_retries
            )

    out = df.rdd.mapPartitions(run_partition).toDF(FETCH_RESULT_SCHEMA)
    fetched = out.filter(F.col("ok")).select("key", "body", "section", "attempts")
    quarantine = out.filter(~F.col("ok")).select("key", "reason", "attempts")
    return fetched, quarantine


def paged_scan(
    spark,
    page_fetcher: Callable[[int], list[str]],
    page_size: int = 500,
    start_offset: int = 0,
    rate: float = 10.0,
) -> DataFrame:
    """Driver-side paged id scan with offset resume → key DataFrame.

    The ESearch retstart loop (reference: fetch_pubmed.py:108-146 page
    size :68, loop :323-342): ``page_fetcher(offset)`` returns one page
    of ids; the loop advances ``offset += page_size`` until a short or
    empty page, rate-limited by a token bucket.  ``start_offset`` is the
    resume token — persist ``offset + len(ids)`` externally (e.g. the
    sink's partition metadata) to continue an interrupted scan.

    Deliberately driver-sequential: the listing API itself is a serial
    cursor (the reference's too); only the per-id BODY fetches fan out —
    feed the returned keys to :func:`fetch_partitioned`.  A 10,000-page
    guard bounds a runaway cursor.
    """
    bucket = TokenBucket(rate)
    ids: list[str] = []
    offset = start_offset
    for _ in range(10_000):
        bucket.acquire()
        page = page_fetcher(offset)
        ids.extend(page)
        offset += page_size
        if len(page) < page_size:
            break
    return spark.createDataFrame([(i,) for i in ids], ["key"])


def body_cascade(
    fulltext: str | None, pdf_text: str | None, abstract: str | None
) -> tuple[str | None, str]:
    """FULL→PDF→ABSTRACT→NONE content cascade
    (reference: fetch_pubmed.py:275-299)."""
    if fulltext:
        return fulltext, "FULL"
    if pdf_text:
        return pdf_text, "FULL"
    if abstract:
        return abstract, "ABSTRACT"
    return None, "NONE"
