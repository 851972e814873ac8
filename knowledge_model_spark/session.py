"""SparkSession factory and table loading.

Single place where engine-wide tuning lives, so tests / bench / driver all
run the same configuration.  Tuned for local[32] testing but every knob is
chosen to also be the right default on a large cluster:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces hand-tuned partition counts at any scale.
- shuffle.partitions=32 locally (matches cores); on a real cluster this is
  superseded by AQE's coalescing from an initial larger number.
- Arrow enabled for the pandas-UDF paths (embedding, sentence chunking).
- Python workers start from the engine's daemon entry,
  ``knowledge_model_spark.pyworker``: up to CPython 3.12 the stock worker
  re-parses every zip archive on its path (pyspark.zip, py4j, the
  spark-core jar) before each task, over half the wall time of a one-row
  Python job.  The package root goes on the workers' PYTHONPATH so the
  daemon can be imported whatever the driver's cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "knowledge_model_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "knowledge_model_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()


def scale_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Scale-adaptive INITIAL shuffle-partition count, derived from the
    input directory's on-disk size (r11 verdict item 1; guide §2.2 —
    fewer, larger partitions — applied session-wide).

    AQE coalesces the READ side of every exchange, but the initial
    count still decides how many reduce tasks windows/sorts schedule
    and how many AQE re-planning decisions each query pays.  The r11
    scaling block measured the whole suite FASTER at 8 cores than at
    32 at sf0.1 — ~250 sub-second queries paying 32-way scheduling on
    kilobytes of shuffle.  Rule (the `_stream_shuffle_partitions`
    recipe generalized): one partition per 4 MiB of source bytes,
    floor min(4, cores), cap = session parallelism — so at 100 TB the
    rule saturates the cap and behaviour is unchanged, while a ~17 MB
    local SF gets ~5.  A/B at sf0.1/local[32] over a 36-query subset:
    geomean 1.06x, no query regressed >15% (OPTIMIZATION_r12.md).
    Partition count never affects WHAT a query computes: every
    query's aggregation order-sensitivity is handled by its own
    sorted-fold / integer / decimal machinery (verified by the full
    oracle-parity suite at this setting).
    """
    nbytes = 0
    for name in TABLE_NAMES:
        try:
            nbytes += os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
        except OSError:
            pass
    cores = spark.sparkContext.defaultParallelism
    per_part = 4 * 1024 * 1024
    return max(min(4, cores), min(cores, -(-nbytes // per_part)))


def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition UP to the session's parallelism when the input arrives
    in fewer partitions.

    A small local parquet table is one split, which would serialize every
    downstream Arrow/pandas kernel onto a single core; at cluster scale a
    100 TB scan already has thousands of splits, so this is a no-op there
    (never repartitions DOWN — no shuffle added on the scale path).
    """
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (optimized-plan stats), or 0
    when the stats are unavailable."""
    try:
        # py4j auto-converts the scala BigInt to a Python int
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def spread_vectors(df: DataFrame) -> DataFrame:
    """:func:`ensure_min_partitions` with a bytes-derived target for
    vector tables feeding cheap per-row kernels (µs/row JVM HOF dots,
    vectorized Arrow batches) — the zca bytes-aware recipe (r11)
    generalized, r12 (guide §2.2: fewer, larger partitions).

    target = clamp(plan-stat bytes / 256 KiB, min(4, cores), cores).
    At scale the cap saturates to the session parallelism, so 100 TB
    behaviour is exactly the old defaultParallelism spread; locally a
    ~1 MB embedding table stops paying 32-task scheduling plus a
    32-way round-robin exchange for every Python/codegen pass
    (measured: ann_ivfpq_topk 3.44 s → 2.49 s at sf0.1/local[32],
    rows byte-identical).  Because the width is derived from bytes,
    not the core count, the same layout — hence the same Arrow batch
    boundaries and bit-identical float partials — is produced at any
    local core count the driver benches with.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    nbytes = plan_size_bytes(df)
    if nbytes <= 0:
        return ensure_min_partitions(df)
    target = max(min(4, cores), min(cores, -(-nbytes // (256 * 1024))))
    return ensure_min_partitions(df, target)


class _Tables(dict):
    """Loaded tables.  The ``*_spread`` variants are built on first read
    (neither ``ask`` nor the ingest tick reads one) and kept from then on."""

    def __missing__(self, key: str) -> DataFrame:
        if key == "documents_spread" and "documents" in self:
            # for per-row-heavy plans (regex batteries, sketch UDFs): a
            # single local parquet split would otherwise run them on one core
            df = ensure_min_partitions(self["documents"])
        elif key == "embeddings_spread" and "embeddings" in self:
            # for vector-HOF-heavy plans (dot products, LSH projections): the
            # sf0.1 parquet is one split.  Width is bytes-derived (r12):
            # per-row vector work is microseconds, so a ~1 MB table spread 32
            # ways paid more in task scheduling than it bought.
            df = spread_vectors(self["embeddings"])
        else:
            raise KeyError(key)
        self[key] = df
        return df


# (session id, sf_dir) → loaded tables.  Every registered query calls
# load_tables; memoizing skips the repeated parquet-footer reads when a
# harness runs the whole registry against one session.  DataFrames are
# lazy plans, so this caches metadata only — no data is pinned.
_TABLE_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame and register temp views.

    Filters/projections written against these views reach the parquet scan
    (PushedFilters / ReadSchema) — Catalyst handles pushdown because the
    plan stays declarative.
    """
    key = (id(spark.sparkContext), sf_dir)
    # set on EVERY call (not only the cold path): harnesses that
    # alternate sf_dirs (the slope tests) must re-derive the partition
    # count for the directory they are about to query
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(scale_shuffle_partitions(spark, sf_dir)),
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        # Temp views are session-global and last-registration-wins, so a
        # later load_tables() against a DIFFERENT sf_dir leaves `FROM
        # documents` SQL pointing at the wrong scale factor.  Re-point the
        # views on every call (metadata-only, no I/O) so a query that does
        # load_tables(sf_dir) immediately before spark.sql(...) always
        # reads the tables it asked for.
        for name, df in cached.items():
            if name in TABLE_NAMES:
                df.createOrReplaceTempView(name)
        return cached
    # events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
    # read nanos as long and truncate to microseconds (same truncation the
    # DuckDB oracle applies).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Newer testdata writes naive timestamp[us], which Spark 4 infers as
    # TIMESTAMP_NTZ (unix_micros/unix_timestamp reject NTZ).  Read it as the
    # classic LTZ type and pin the session to UTC so hour()/window() render
    # the same wall-clock values the DuckDB oracle sees for naive timestamps.
    # These are runtime SQL confs set here (not only in get_spark) so they
    # also take effect on externally-built sessions (the driver's).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tables = _Tables()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                # Exact integer division: `/` goes through double, whose
                # 53-bit mantissa cannot represent ~1.7e18 nanosecond
                # values — off-by-1µs on ~2% of rows vs the oracle's
                # integer truncation.  `div` stays in int64.
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            df.createOrReplaceTempView(name)
            tables[name] = df
    _TABLE_CACHE[key] = tables
    return tables
