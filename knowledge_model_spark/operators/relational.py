"""Relational operator extensions Spark lacks as single calls.

Each is a composition of DataFrame primitives chosen for scale:
- as-of join → union + last-value window (one shuffle on the key, no
  per-row range probe)

These generalize the reference's hand-coded versions: first-seen-wins
dedup (reference: main.py:283-291), token-budget packing (main.py:355-363).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_first_seen(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """First-seen-wins dedup on a key (reference: main.py:283-291,
    postprocess.py:75-112): row_number over (key, order) = 1."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    right_cols: Sequence[str] | None = None,
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_time <= left_time`` (backward) or earliest with ``>=``
    (forward), per key.

    Implemented as union + window (single shuffle on the key, linear in
    rows) rather than a per-row range probe — the scalable formulation.
    Right value columns come back null when no match exists.

    ``tolerance`` (e.g. ``"30 minutes"``): pandas ``merge_asof``
    semantics — a carried match further than the tolerance from the left
    row's time is treated as NO match (right columns null).  Implemented
    as a post-filter on the carried match time, so it adds zero shuffle
    cost; it does NOT change which row is carried (the nearest-in-
    direction row either qualifies or nothing does).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_time)]
    lcols = left.columns
    clash = sorted(set(lcols) & set(right_cols))
    if clash:
        # unionByName would merge same-named columns and the window fill
        # would then read the LEFT rows' own values — silent corruption.
        raise ValueError(
            f"asof_join: left already has column(s) {clash}; alias the "
            "right value columns (right_cols) to non-colliding names"
        )

    l_tag = left.withColumn("__src", F.lit(1)).withColumn("__t", F.col(left_time))
    r_tag = right.select(
        F.col(on),
        F.col(right_time).alias("__t"),
        F.col(right_time).alias("__rt"),
        F.lit(0).alias("__src"),
        *[F.col(c) for c in right_cols],
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    if direction == "backward":
        w = (
            Window.partitionBy(on)
            .orderBy(F.col("__t").asc(), F.col("__src").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    elif direction == "forward":
        w = (
            Window.partitionBy(on)
            .orderBy(F.col("__t").desc(), F.col("__src").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        raise ValueError("direction must be 'backward' or 'forward'")

    filled = unioned
    for c in [*right_cols, "__rt"]:
        filled = filled.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    out = filled.filter(F.col("__src") == 1)
    if tolerance is not None:
        gap = F.expr(f"INTERVAL {tolerance}")
        within = (
            (F.col(left_time) - gap <= F.col("__rt"))
            if direction == "backward"
            else (F.col("__rt") <= F.col(left_time) + gap)
        )
        out = out.select(
            *lcols,
            *[F.when(within, F.col(c)).alias(c) for c in right_cols],
        )
        return out
    return out.select(*lcols, *right_cols)


def greedy_budget_pack(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    cost_col: str,
    budget: int,
    ascending: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Greedy budget packing: walk rows per group in rank order and keep
    those whose running cost stays within budget.

    Reproduces the reference's 800-token context packing
    (reference: main.py:355-363) as a cumulative-sum window.
    ``tiebreak`` columns (ascending) make the walk order — and therefore
    the kept set — deterministic when ``order_col`` has ties.
    """
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order, *[F.col(c).asc() for c in tiebreak])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("__cum", F.sum(F.col(cost_col)).over(w))
        .filter(F.col("__cum") <= budget)
        .drop("__cum")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 8,
) -> DataFrame:
    """Skew-resistant inner equi-join: salt the (large, skewed) left side,
    replicate the right side ``n_salt`` ways.

    For a hot key holding x% of left rows, the shuffle partition that
    would receive all of them instead receives x/n_salt — the classic
    mitigation when AQE's runtime skew splitting isn't available
    (streaming joins, state-store joins) or when skew is known up front.
    The salt is derived from xxhash64 of the whole left row (via
    monotonically stable column hash), so results are deterministic.

    Cost model: right side is replicated n_salt× through the shuffle —
    use only when right ≪ left (else broadcast or AQE are better).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salt))
    l_salted = left.withColumn("__salt", salt)
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return l_salted.join(r_salted, [key, "__salt"]).drop("__salt")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
) -> DataFrame:
    """Deterministic per-stratum downsampling by hash fraction; strata
    missing from ``rates`` are kept whole.

    A training pipeline rebalances its domain/language mix by sampling
    each stratum at a target rate (e.g. downsample web text, keep all
    reference text).  Membership is content-addressed — keep row iff the
    first 4 hex chars of md5(key) compare below the stratum's rate
    rendered as a 4-digit hex bound (md5 hex is uniform) — so the sample is
    stable across runs, cluster sizes, and incremental corpus additions,
    and needs no RNG state or shuffle: it is a scan-speed filter, unlike
    ``df.sampleBy`` whose seeds don't survive repartitioning.  Plain
    string comparison so the DuckDB oracle states the identical predicate.
    """
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 4)
    bound = F.lit(hex_rate_bound(1.0))
    for stratum, r in sorted(rates.items()):
        bound = F.when(F.col(strata_col) == stratum, F.lit(hex_rate_bound(r))).otherwise(bound)
    return df.filter(h < bound)


def fixed_sample_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    key_col: str,
) -> DataFrame:
    """Exactly min(n, group size) rows per group, deterministically.

    The eval-set construction primitive: "3 documents per language",
    stable across runs, partitionings, and cluster sizes.  Priority is
    the md5 of the key (content-addressed, like every sampler here) with
    the key itself as tiebreak; one row_number window per group — a
    single shuffle on the group key, no RNG state (a distributed
    reservoir sample would need mergeable per-partition reservoirs and
    still be seed-sensitive; hash priority gets the same statistical
    behavior for free).
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def hex_rate_bound(rate: float) -> str:
    """rate in [0,1] -> 4-digit lowercase hex bound ('zzzz' for keep-all,
    which compares above every hex digit)."""
    if rate >= 1.0:
        return "zzzz"
    return format(max(0, int(rate * 65536)), "04x")


def mixture_rates(df: DataFrame, source_col: str, alpha: float = 0.5) -> DataFrame:
    """Per-source keep rates for temperature/alpha mixture re-weighting.

    LLM training corpora rebalance their source mix by sampling source s
    with probability ∝ n_s^alpha (multilingual-LM temperature sampling;
    alpha=1 keeps the natural mix, alpha=0 uniform across sources).
    Expressed as pure downsampling — no upsampling — the keep rate is
    r_s = (n_min / n_s)^(1-alpha): the smallest source keeps everything,
    larger sources shed their excess.  Returns (source, n, rate, bound)
    where ``bound`` is the 4-hex-digit md5 threshold for
    :func:`apply_mixture`.

    alpha=0.5 computes via ``sqrt``, which is IEEE-exactly-rounded in
    both the JVM and DuckDB — bit-identical bounds, so the oracle can
    state the same arithmetic (a general ``pow`` is not exactly rounded
    and could disagree in the last ulp right at a bucket edge).
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("n"))
    n_min = counts.agg(F.min("n").alias("nmin"))
    ratio = F.col("nmin").cast("double") / F.col("n").cast("double")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    return (
        counts.crossJoin(F.broadcast(n_min))
        .withColumn("rate", rate)
        .withColumn(
            "bound",
            F.when(F.col("rate") >= 1.0, F.lit("zzzz")).otherwise(
                F.lpad(
                    F.lower(F.hex(F.floor(F.col("rate") * 65536).cast("long"))),
                    4,
                    "0",
                )
            ),
        )
        .select(source_col, "n", "rate", "bound")
    )


def apply_mixture(
    df: DataFrame, source_col: str, key_col: str, alpha: float = 0.5
) -> DataFrame:
    """Filter ``df`` to the temperature-rebalanced mixture.

    The rates table is one row per source — broadcast joined, so the
    corpus side stays scan-speed: a content-addressed md5 filter exactly
    like :func:`stratified_sample`, stable across runs, cluster sizes,
    and corpus growth (a document's membership only changes if its
    source's rate does).
    """
    rates = mixture_rates(df, source_col, alpha).select(source_col, "bound")
    h = F.substring(F.md5(F.col(key_col).cast("string")), 1, 4)
    return df.join(F.broadcast(rates), source_col).filter(h < F.col("bound")).drop("bound")


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis &
    Spirakis 2006): each row draws u ~ U(0,1] and the k largest
    ``u^(1/w)`` keys win — inclusion probability ∝ weight, no RNG state.

    u is content-addressed like every sampler here (stable across runs,
    partitionings, and corpus growth): the first 13 md5 hex chars of the
    id parsed as a 52-bit integer give an EXACT dyadic rational
    (v+1)/2^52 — bit-identical in Spark (conv base-16) and DuckDB
    ('0x' cast), because 52 bits fit a double mantissa and the divisor
    is a power of two.  Ranking uses the monotone-equivalent
    ln(u)/w (avoids pow(), which is not exactly rounded), rounded to
    9 dp with id tiebreak so a last-ulp ln() difference cannot flip the
    cross-engine order.

    Scale: a scan-speed key computation + TakeOrderedAndProject top-k —
    no shuffle beyond the per-partition partial top-k merge.
    """
    v = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10).cast(
        "long"
    )
    u = (v + 1) / F.lit(float(2**52))
    key = F.round(F.log(u) / F.greatest(F.col(weight_col), F.lit(1)), 9)
    topk = (
        df.select(F.col(id_col), F.col(weight_col), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col(id_col).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("es_key").desc(), F.col(id_col).asc())
    return topk.withColumn("rnk", F.row_number().over(w))


def scd2_collapse(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Collapse an event log into SCD Type-2 dimension history.

    The reference re-fetches article metadata monthly and last-writes it
    over the DB row (pipeline.py:135,181-207) — history is lost.  The
    warehouse-correct shape is slowly-changing-dimension type 2: one row
    per (entity, consecutive run of an attribute value) with
    ``valid_from`` / ``valid_to`` effectivity bounds, ``version``
    ordinal, and an ``is_current`` flag.

    Classic gaps-and-islands: a change flag (lag over the entity
    timeline), a running change count to number the islands, a per-island
    aggregate, then lead() for the exclusive upper bound.  Every window
    and the aggregate partition by the entity key — one shuffle total on
    the entity, holds at any scale; ``tiebreak_col`` makes same-timestamp
    orderings deterministic.
    """
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(entity_col).orderBy(*order)
    flagged = df.select(entity_col, ts_col, attr_col, tiebreak_col).withColumn(
        "__chg",
        F.when(
            F.lag(attr_col).over(w).isNull()
            | (F.lag(attr_col).over(w) != F.col(attr_col)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__ver", F.sum("__chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    runs = islands.groupBy(entity_col, "__ver").agg(
        F.first(attr_col).alias(attr_col),
        F.min(ts_col).alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy(entity_col).orderBy(F.col("valid_from").asc())
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(
            F.col(entity_col),
            F.col("__ver").alias("version"),
            F.col(attr_col),
            "valid_from",
            "valid_to",
            "n_events",
            "is_current",
        )
    )


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    right_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Co-grouped pandas twin of :func:`asof_join` —
    ``groupBy().cogroup().applyInPandas`` with a per-key
    ``pandas.merge_asof``.

    Same contract and same single-shuffle-per-side cost as the
    union+window formulation (both sides hash on the key; each key's
    rows meet in one task).  The union+window operator remains the hot
    path — it stays JVM-side — but cogroup is the right seam when the
    per-key logic outgrows window algebra (model-based imputation,
    irregular interpolation), and this twin completes the §2.10 pandas
    API surface (GROUPED_MAP / GROUPED_AGG / mapInPandas /
    applyInPandasWithState / cogroup).  Equivalence against the window
    formulation is asserted in tests/test_sketches.py.

    Caveat vs the window twin: a key whose rows don't fit one task's
    memory needs the window path; Arrow batches bound nothing across a
    single cogroup key.

    The cogroup shuffle's partition count is pinned to the session's
    defaultParallelism.  AQE's partition
    coalescing sizes post-shuffle partitions by BYTES, but a pandas
    cogroup stage's cost is rows-per-core in Python — on a slim
    (key, ts, value) input AQE coalesces the exchange to a handful of
    tasks and the merge stage runs nearly serial (measured 3 tasks /
    4.1 s vs 20 tasks / 1.4 s at sf0.1, guide §2.2/§4).  An explicit
    keyed repartition with a pinned count is exempt from AQE
    coalescing, satisfies the cogroup's HashClustered requirement (no
    second exchange), and scales with the session instead of the
    byte-size heuristic.  Per-group results are partitioning-invariant,
    so output rows are identical.
    """
    import pandas as pd

    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_time)]
    clash = sorted(set(left.columns) & set(right_cols))
    if clash:
        raise ValueError(
            f"asof_join_cogrouped: left already has column(s) {clash}; "
            "alias the right value columns to non-colliding names"
        )

    out_fields = left.schema.fields + [right.schema[c] for c in right_cols]
    from pyspark.sql.types import StructType

    schema = StructType(out_fields)
    lcols = list(left.columns)
    rkeep = [on, right_time, *right_cols]

    def merge(ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        if ldf.empty:
            return pd.DataFrame(columns=lcols + list(right_cols))
        ldf = ldf.sort_values(left_time, kind="mergesort")
        if rdf.empty:
            for c in right_cols:
                ldf[c] = None
            return ldf[lcols + list(right_cols)]
        # rename the right time column: a name shared with left_time
        # (both "ts" is the common case) would suffix-collide inside
        # merge_asof and drop the left column from the output
        rdf = (
            rdf[rkeep]
            .rename(columns={right_time: "__rt"})
            .sort_values("__rt", kind="mergesort")
        )
        merged = pd.merge_asof(
            ldf,
            rdf.drop(columns=[on]),
            left_on=left_time,
            right_on="__rt",
            direction=direction,
        )
        return merged[lcols + list(right_cols)]

    num_partitions = left.sparkSession.sparkContext.defaultParallelism
    return (
        left.repartition(num_partitions, on)
        .groupBy(on)
        .cogroup(right.repartition(num_partitions, on).groupBy(on))
        .applyInPandas(merge, schema=schema)
    )


def merge_partial_aggs(
    state: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Incremental maintenance of algebraic aggregates.

    ``state`` is a partial-aggregate table (keys + per-column sums +
    row count ``n_rows`` + min/max per sum column); ``batch`` is NEW raw rows.
    Returns the updated state: the batch is aggregated alone (cost ∝
    batch) and merged with the prior state by re-aggregating two
    partial rows per key — the raw corpus is never touched again.
    sum/count/min/max are algebraic (partials merge losslessly), and
    avg derives as sum/count at read time: the standard incremental-
    view-maintenance contract, matching the reference's monthly
    continuous flow (one new month folded into standing statistics).

    At 100 TB the state table is keyed-group-sized (not corpus-sized);
    the merge is one shuffle of two small tables.
    """
    aggs = [F.count("*").cast("long").alias("n_rows")]
    for c in sum_cols:
        aggs += [
            F.sum(c).alias(f"sum_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    partial = batch.groupBy(*keys).agg(*aggs)
    if state is None:
        return partial
    merged_aggs = [F.sum("n_rows").cast("long").alias("n_rows")]
    for c in sum_cols:
        merged_aggs += [
            F.sum(f"sum_{c}").alias(f"sum_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
        ]
    return state.unionByName(partial).groupBy(*keys).agg(*merged_aggs)


def hot_key_salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 16,
    hot_threshold: int = 100_000,
    how: str = "inner",
) -> DataFrame:
    """Adaptive skew join: salt ONLY the hot keys.

    :func:`salted_join` replicates the entire right side ``n_salt``×,
    taxing every key to fix the few; AQE's skew splitting fixes sort-
    merge stages but not all shapes.  The production middle ground is
    key-frequency-aware salting: one cheap aggregation finds keys whose
    left-side count exceeds ``hot_threshold`` (the hot set is tiny by
    definition — skew means FEW keys hold the mass, so it broadcasts),
    then only those keys get salted/replicated; the long tail joins
    completely untouched.  Cost: one count shuffle + right-side
    replication ∝ (hot keys × n_salt) instead of (all keys × n_salt).

    Deterministic: the salt comes from xxhash64 of the whole left row.
    """
    counts = left.groupBy(key).agg(F.count("*").alias("__kc"))
    hot = counts.filter(F.col("__kc") > hot_threshold).select(key)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salt))
    l_marked = left.join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))), key, "left"
    )
    l_salted = l_marked.withColumn(
        "__salt", F.when(F.col("__hot"), salt).otherwise(F.lit(0))
    ).drop("__hot")
    r_marked = right.join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))), key, "left"
    )
    r_salted = r_marked.withColumn(
        "__salt",
        F.explode(
            F.when(
                F.col("__hot"),
                F.array(*[F.lit(i) for i in range(n_salt)]),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("__hot")
    return l_salted.join(r_salted, [key, "__salt"], how).drop("__salt")


def gap_fill_forward(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "hour",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Regularize an irregular time series: one row per (key, bucket)
    on a dense per-key grid between the key's first and last
    observation, carrying the last-observed value forward across gaps
    — the standard sensor/metrics preparation step before window
    algebra that assumes regular spacing.

    Spark-first shape: the grid comes from ``sequence()`` exploded per
    key (no driver loop, no cross join with a global calendar — each
    key materializes only ITS span), observations collapse to one
    deterministic row per bucket (latest ``ts`` wins), and the fill is
    ``last(value, ignorenulls=True)`` over an unbounded-preceding
    window — one shuffle on the key, which the grid join reuses.
    Buckets before a key's first observation keep NULL.

    Returns (key, bucket_ts, value, observed).
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    # repartition the (tiny) bounds table on the key BEFORE exploding:
    # the per-key sequence() multiplies rows ~span×, and without the
    # spread that generation runs in however few tasks the aggregation
    # coalesced to — a serial bottleneck the join's later exchange
    # cannot recover
    bounds = df.groupBy(F.col(key_col).alias("key")).agg(
        F.min(b).alias("__lo"), F.max(b).alias("__hi")
    ).repartition(F.col("key"))
    grid = bounds.select(
        "key",
        F.explode(
            F.expr(f"sequence(__lo, __hi, INTERVAL 1 {bucket})")
        ).alias("bucket_ts"),
    )
    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        # equal-timestamp observations need a total order or the kept
        # value is partition-order-dependent
        order.append(F.col(tiebreak_col).desc())
    w_pick = Window.partitionBy("key", "bucket_ts").orderBy(*order)
    obs = (
        df.select(
            F.col(key_col).alias("key"),
            b.alias("bucket_ts"),
            F.col(ts_col),
            F.col(value_col).alias("__v"),
            *([F.col(tiebreak_col)] if tiebreak_col else []),
        )
        .withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") == 1)
        .select("key", "bucket_ts", "__v")
    )
    w_fill = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["key", "bucket_ts"], "left")
        .select(
            "key",
            "bucket_ts",
            F.last("__v", ignorenulls=True).over(w_fill).alias("value"),
            F.col("__v").isNotNull().alias("observed"),
        )
    )


def gap_fill_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "hour",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Linear-interpolation twin of :func:`gap_fill_forward`: gap
    buckets between two observations take the time-weighted blend
    v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev);
    buckets outside the observed span stay NULL beyond the edges
    (leading NULL, trailing = last observation, the pandas
    ``interpolate(limit_direction='forward')`` convention).

    Same single key shuffle: the forward pass carries (t_prev, v_prev)
    via last(ignorenulls), the backward pass carries (t_next, v_next)
    via first(ignorenulls) over the mirrored frame — two window
    functions over one partitioning, no join against shifted copies.
    The blend fraction is exact integer second arithmetic; the float
    blend is rounded to 6 dp for engine parity.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    # repartition the (tiny) bounds table on the key BEFORE exploding:
    # the per-key sequence() multiplies rows ~span×, and without the
    # spread that generation runs in however few tasks the aggregation
    # coalesced to — a serial bottleneck the join's later exchange
    # cannot recover
    bounds = df.groupBy(F.col(key_col).alias("key")).agg(
        F.min(b).alias("__lo"), F.max(b).alias("__hi")
    ).repartition(F.col("key"))
    grid = bounds.select(
        "key",
        F.explode(
            F.expr(f"sequence(__lo, __hi, INTERVAL 1 {bucket})")
        ).alias("bucket_ts"),
    )
    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w_pick = Window.partitionBy("key", "bucket_ts").orderBy(*order)
    obs = (
        df.select(
            F.col(key_col).alias("key"),
            b.alias("bucket_ts"),
            F.col(ts_col),
            F.col(value_col).alias("__v"),
            *([F.col(tiebreak_col)] if tiebreak_col else []),
        )
        .withColumn("__rn", F.row_number().over(w_pick))
        .filter(F.col("__rn") == 1)
        .select("key", "bucket_ts", "__v")
    )
    w_fwd = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the backward carry runs over a DESC-ordered unbounded-PRECEDING
    # frame, not an unbounded-following one: Spark's following-frame
    # processor recomputes the aggregate per row (O(n²) per partition —
    # measured 8 s vs 1.3 s on a 7000-bucket key), while the preceding
    # frame is a running accumulate; the extra sort shares the exchange
    w_bwd = (
        Window.partitionBy("key")
        .orderBy(F.col("bucket_ts").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = grid.join(obs, ["key", "bucket_ts"], "left").select(
        "key",
        "bucket_ts",
        F.col("__v"),
        F.last(F.when(F.col("__v").isNotNull(), F.col("bucket_ts")), True)
        .over(w_fwd)
        .alias("__tp"),
        F.last("__v", ignorenulls=True).over(w_fwd).alias("__vp"),
        F.last(F.when(F.col("__v").isNotNull(), F.col("bucket_ts")), True)
        .over(w_bwd)
        .alias("__tn"),
        F.last("__v", ignorenulls=True).over(w_bwd).alias("__vn"),
    )
    span = F.unix_timestamp("__tn") - F.unix_timestamp("__tp")
    frac = (F.unix_timestamp("bucket_ts") - F.unix_timestamp("__tp")) / span
    interp = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(
        F.when(
            F.col("__vp").isNotNull() & F.col("__vn").isNotNull(),
            F.col("__vp") + (F.col("__vn") - F.col("__vp")) * frac,
        ).otherwise(F.col("__vp"))  # trailing: carry last; leading: NULL
    )
    # floor(x·1e6 + 0.5)/1e6, NOT round(x, 6): interpolation fractions
    # are exact binary ratios, so blends land exactly on half-ulp
    # boundaries where Spark's HALF_UP and DuckDB's double rounding
    # disagree; the floor form is bit-identical given identical inputs
    return g.select(
        "key",
        "bucket_ts",
        (F.floor(interp * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "value"
        ),
        F.col("__v").isNotNull().alias("observed"),
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str],
    window: str = "1 hour",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """OHLC time-series downsampling: open/high/low/close (+ count, sum)
    per (``group_cols``, tumbling ``window``) bucket.

    open/close are expressed as ``min_by``/``max_by`` over a totally
    ordered key — an ALGEBRAIC aggregate (commutative, associative,
    map-side-combinable), so the whole bar builds in ONE partial+final
    HashAggregate with no per-key sort.  The naive formulation (two
    row_number windows per key) shuffles AND sorts every event; at
    100 TB of tick data the sort dominates, while this plan's cost is
    the scan plus one slim shuffle of per-bucket partial bars.

    The (ts, tiebreak) ordering key is packed into ONE DECIMAL(38,0) as
    ``unix_micros(ts) * 10^12 + tiebreak`` — positional base-10^12
    encoding preserves the lexicographic order exactly, and matters
    physically: min_by over a struct key demotes the plan to
    SortAggregate (struct buffers aren't hash-aggregable), measured as
    two extra per-partition sorts; the decimal key keeps HashAggregate.
    Requires ``0 <= tiebreak < 10^12``; the key makes the order total,
    so simultaneous events resolve identically on any partitioning (and
    identically to the oracle's ORDER BY ts, tiebreak).
    """
    ts_us = F.unix_micros(F.col(ts_col)).cast("decimal(38,0)")
    if tiebreak_col:
        key = ts_us * F.lit(10**12).cast("decimal(38,0)") + F.col(
            tiebreak_col
        ).cast("decimal(38,0)")
    else:
        key = ts_us
    v = F.col(value_col)
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), *group_cols)
        .agg(
            F.min_by(v, key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, key).alias("close"),
            F.count("*").alias("n"),
            F.round(F.sum(v), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *group_cols,
            "open",
            "high",
            "low",
            "close",
            "n",
            "total_value",
        )
    )


def key_skew_audit(df: DataFrame, key_col: str, label: str | None = None) -> DataFrame:
    """One-row skew profile of a prospective join/aggregation key.

    The pre-flight check a 100 TB job runs BEFORE choosing a join
    strategy: n_keys / max key count / p50 / p99 / top-key share decide
    between a plain shuffle join, AQE skew splitting, and
    :func:`hot_key_salted_join`.  Two shuffles total — one groupBy on
    the key (map-side combined), one scalar aggregate over the (much
    smaller) count table.  top_share_ppm is exact integer arithmetic;
    the percentiles use the engine/oracle-shared linear interpolation.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("cnt"))
    agg = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 4).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
    )
    return agg.select(
        F.lit(label or key_col).alias("keyset"),
        "n_keys",
        "n_rows",
        "max_cnt",
        "p50_cnt",
        "p99_cnt",
        # exact integral division (never float): matches the oracle's `//`
        F.expr("max_cnt * 1000000L div n_rows").alias("top_share_ppm"),
        F.round(
            F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows"), 4
        ).alias("max_over_avg"),
    )


def ewma_trailing(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    n: int = 10,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Trailing exponentially-weighted moving average over the last ``n``
    observations per key (ordered by ``ts_col`` then ``tiebreak``).

    The true recursive EWMA (s_t = α·v_t + (1-α)·s_{t-1}) is inherently
    sequential — a scan no engine parallelizes per key — so this is the
    standard bounded-window approximation: weights (1-α)^k for lags
    k = 0..n-1, renormalized over the lags that exist.  The weights are
    precomputed on the driver and embedded as DOUBLE LITERALS, and the
    numerator/denominator fold left-to-right in lag order — both choices
    exist so an oracle stating the identical literals and the identical
    fold produces bit-identical doubles (pow() can differ in the last
    ulp between libm implementations; literals can't).

    Plan: ONE shuffle on the key, in-partition sort, n lag reads from
    the same window frame — no self-join, no per-row subquery.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak])
    )
    weights = [(1.0 - alpha) ** k for k in range(n)]
    lags = [F.lag(F.col(value_col), k).over(w) for k in range(n)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(n):
        num = num + F.coalesce(F.lit(weights[k]) * lags[k], F.lit(0.0))
        den = den + F.when(lags[k].isNotNull(), F.lit(weights[k])).otherwise(F.lit(0.0))
    return df.withColumn("ewma", F.round(num / den, 6))


def partition_balance(df):
    """Per-partition row-count report — the pre-flight a pipeline runs
    before a heavy stage to confirm its partitioning is balanced
    (complement of diag_key_skew, which audits KEY distribution; this
    audits the PHYSICAL layout after repartition/bucketing choices).

    Returns (partition_id, n_rows) plus a summary is left to the
    caller; uses spark_partition_id() so it reflects the DataFrame's
    CURRENT partitioning.  One map-side-combined aggregate — cost of a
    count().
    """
    from pyspark.sql import functions as F

    return (
        df.select(F.spark_partition_id().alias("partition_id"))
        .groupBy("partition_id")
        .agg(F.count("*").cast("long").alias("n_rows"))
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    left_id: str,
    right_cols: Sequence[str] | None = None,
    validate_unique: bool = False,
) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof``
    ``direction='nearest'``): per left row, whichever of the latest
    at-or-before / earliest at-or-after right rows is closer in time
    (exact microsecond distance; ties go BACKWARD — the documented
    rule, so results are partition-invariant).

    Composed from two :func:`asof_join` passes (backward + forward,
    each one key shuffle) re-joined on ``left_id`` (a UNIQUE left key —
    required, because the nearest pick needs both candidates for the
    same row; a duplicated ``left_id`` would turn the re-join into a
    many-to-many cross product of backward × forward candidates).
    Pass ``validate_unique=True`` to enforce the contract with one
    early-aborting aggregate job (use in tests / first runs against a
    new source) instead of relying on the caller's schema knowledge.
    Output: all left columns + ``right_cols`` (nearest match, null when
    neither direction matched) + ``asof_dt_us`` (signed distance,
    negative = matched backward).
    """
    if validate_unique:
        dup = (
            left.groupBy(left_id)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"asof_join_nearest: left_id {left_id!r} is not unique "
                f"(e.g. {dup[0][0]!r} appears {dup[0][1]} times); a "
                "duplicated key would cross-product backward × forward "
                "candidates"
            )
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, right_time)]

    def pass_(direction: str, tag: str):
        r = right.select(
            F.col(on),
            F.col(right_time),
            F.col(right_time).alias(f"__{tag}_t"),
            *[F.col(c).alias(f"__{tag}_{c}") for c in right_cols],
        )
        return asof_join(
            left,
            r,
            on=on,
            left_time=left_time,
            right_time=right_time,
            direction=direction,
            right_cols=[f"__{tag}_t"] + [f"__{tag}_{c}" for c in right_cols],
        )

    back = pass_("backward", "b")
    fwd = pass_("forward", "f").select(
        F.col(left_id),
        F.col("__f_t"),
        *[F.col(f"__f_{c}") for c in right_cols],
    )
    both = back.join(fwd, left_id)
    lt_us = F.unix_micros(F.col(left_time))
    b_dt = lt_us - F.unix_micros(F.col("__b_t"))
    f_dt = F.unix_micros(F.col("__f_t")) - lt_us
    use_b = F.col("__b_t").isNotNull() & (
        F.col("__f_t").isNull() | (b_dt <= f_dt)
    )
    out_cols = [F.col(c) for c in left.columns]
    for c in right_cols:
        out_cols.append(
            F.when(use_b, F.col(f"__b_{c}")).otherwise(F.col(f"__f_{c}")).alias(c)
        )
    out_cols.append(
        F.when(use_b, -b_dt)
        .otherwise(F.when(F.col("__f_t").isNotNull(), f_dt))
        .cast("long")
        .alias("asof_dt_us")
    )
    return both.select(*out_cols)


def interval_overlap_counts(
    sessions: DataFrame,
    bucket_col: str = "day",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Per-bucket COUNT of overlapping interval pairs via a boundary
    sweep — the O(n log n) scale twin of the pair-materializing
    interval-overlap join (which is Θ(output) = Θ(n²) per bucket when
    most intervals overlap, as same-day activity spans do).

    Identity: intervals a, b overlap iff NOT (e_a < s_b or e_b < s_a),
    so  overlap_pairs = C(n, 2) − #{(a, b) : e_a < s_b}.  The strict
    "ends before start" count is a merge of the boundary multiset: sort
    (t, is_end) per bucket with starts BEFORE ends on ties (e == s
    touches, which counts as overlap under the <= predicate, so an
    equal end must NOT be counted), take the running sum of is_end at
    each start.  Ties among starts contribute 0 to the running sum and
    end-row values are never read, so tie order cannot change the
    result — deterministic under any partitioning.

    Scale shape: ONE hash shuffle on the bucket key (the window), and
    the follow-up groupBy reuses that partitioning — no second
    exchange, no pair row ever exists.  Parallelism is bucket-count
    bound: the bucket is the TIME dimension, so a 100 TB events span
    brings proportionally more buckets; per-bucket cost is the window
    sort, n log n.  Output schema: (bucket, n_sessions, overlap_pairs).
    """
    ev = sessions.select(
        F.col(bucket_col).alias("__b"),
        F.col(start_col).alias("__t"),
        F.lit(0).alias("__is_end"),
    ).unionAll(
        sessions.select(
            F.col(bucket_col).alias("__b"),
            F.col(end_col).alias("__t"),
            F.lit(1).alias("__is_end"),
        )
    )
    w = (
        Window.partitionBy("__b")
        .orderBy("__t", "__is_end")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scan = ev.withColumn("__ends_before", F.sum("__is_end").over(w))
    return (
        scan.groupBy(F.col("__b").alias(bucket_col))
        .agg(
            F.sum(1 - F.col("__is_end")).cast("long").alias("n_sessions"),
            F.sum(
                F.when(F.col("__is_end") == 0, F.col("__ends_before")).otherwise(
                    F.lit(0)
                )
            ).alias("__disjoint"),
        )
        .select(
            bucket_col,
            "n_sessions",
            (
                # C(n,2) stays integral end to end: n*(n-1) is a long
                # product (always even), halved with shiftright — the
                # double-division form diverges from the oracle's
                # integer // once n*(n-1) exceeds 2^53, i.e. ~9.5e7
                # intervals in one bucket at 100 TB.
                F.shiftright(
                    F.col("n_sessions") * (F.col("n_sessions") - F.lit(1)), 1
                )
                - F.col("__disjoint")
            ).cast("long").alias("overlap_pairs"),
        )
    )


def interval_peak_concurrency(
    sessions: DataFrame,
    bucket_col: str = "day",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Per-bucket PEAK CONCURRENCY of (possibly overlapping) intervals —
    the capacity-planning companion of :func:`interval_union_length`:
    "how many sessions were simultaneously active at the busiest
    instant of each day", plus the first instant that peak is reached.

    Sweep: starts are +1 / ends are −1 boundary events; the running sum
    INCLUDING the current row is the active count just after the
    boundary; the peak is its per-bucket max.  Ties order
    (t, delta DESC) so a start sorts before an end at the same instant
    — closed-interval semantics: a session ending at t and one starting
    at t ARE momentarily concurrent, consistent with the union-length
    sweep.  Tied starts at one t reach the same final running value in
    any order and the max over the tied group is that final value, so
    the peak is deterministic under any partitioning; the first-peak
    instant is a min over t, equally order-free.

    Scale shape: one hash shuffle on the bucket (the window sort), the
    follow-up groupBy reuses the partitioning; parallelism grows with
    the time span — the same argument as interval_overlap_counts.
    Output: (bucket, n_sessions, peak_concurrency, first_peak_us).
    """
    us = lambda c: (F.unix_micros(F.col(c).cast("timestamp")))  # noqa: E731
    ev = sessions.select(
        F.col(bucket_col).alias("__b"),
        us(start_col).alias("__t"),
        F.lit(1).alias("__d"),
    ).unionAll(
        sessions.select(
            F.col(bucket_col).alias("__b"),
            us(end_col).alias("__t"),
            F.lit(-1).alias("__d"),
        )
    )
    w_run = (
        Window.partitionBy("__b")
        .orderBy(F.col("__t"), F.col("__d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = ev.withColumn("__active", F.sum("__d").over(w_run)).withColumn(
        "__peak", F.max("__active").over(Window.partitionBy("__b"))
    )
    return run.groupBy(F.col("__b").alias(bucket_col)).agg(
        (F.count("*") / 2).cast("long").alias("n_sessions"),
        F.max("__active").cast("long").alias("peak_concurrency"),
        F.min(
            F.when(F.col("__active") == F.col("__peak"), F.col("__t"))
        ).alias("first_peak_us"),
    )


def interval_union_length(
    sessions: DataFrame,
    bucket_col: str = "day",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Per-bucket UNION LENGTH of (possibly overlapping) intervals via
    the same boundary sweep as :func:`interval_overlap_counts` — the
    coverage-audit companion: "how much of each day is covered by at
    least one session", computed without materializing overlaps.

    Sweep: starts are +1 / ends are −1 boundary events; at each
    boundary the gap to the previous boundary contributes to the
    covered total iff the running active count BEFORE this boundary is
    positive.  Ties order (t, delta DESC) so a start sorts before an
    end at the same instant — touching intervals ([a,b],[b,c]) stay
    continuous and closed-interval semantics hold.  Ties among equal
    (t, delta) rows are inert: a zero-length gap contributes nothing
    either way.  Durations are exact epoch-microsecond integers.

    Scale shape: one hash shuffle on the bucket (the window); groupBy
    reuses the partitioning; parallelism grows with the time span, the
    same argument as interval_overlap_counts.  Output: (bucket,
    n_sessions, covered_us).
    """
    us = lambda c: (F.unix_micros(F.col(c).cast("timestamp")))  # noqa: E731
    ev = sessions.select(
        F.col(bucket_col).alias("__b"),
        us(start_col).alias("__t"),
        F.lit(1).alias("__d"),
    ).unionAll(
        sessions.select(
            F.col(bucket_col).alias("__b"),
            us(end_col).alias("__t"),
            F.lit(-1).alias("__d"),
        )
    )
    w_ord = Window.partitionBy("__b").orderBy(F.col("__t"), F.col("__d").desc())
    run = (
        ev.withColumn("__prev_t", F.lag("__t").over(w_ord))
        .withColumn(
            "__active_before",
            F.coalesce(
                F.sum("__d").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    return (
        run.groupBy(F.col("__b").alias(bucket_col))
        .agg(
            (F.count("*") / 2).cast("long").alias("n_sessions"),
            F.sum(
                F.when(
                    (F.col("__active_before") > 0)
                    & F.col("__prev_t").isNotNull(),
                    F.col("__t") - F.col("__prev_t"),
                ).otherwise(F.lit(0))
            ).cast("long").alias("covered_us"),
        )
    )
