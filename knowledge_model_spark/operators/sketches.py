"""Mergeable-sketch aggregations (Apache DataSketches via Spark 4 builtins).

The 100 TB story: exact ``COUNT(DISTINCT)`` and exact percentiles both
need a full shuffle of the raw values per re-grouping — at petabyte scale
you cannot re-scan the corpus for every rollup level.  Sketches are
commutative-monoid summaries: build them ONCE per fine-grained group
(map-side partial aggregation, bytes per group), then any coarser rollup
is a union/merge of the group sketches — no second pass over the data.
This is the same pre-aggregation contract the reference's monthly
snapshot layout implies (data/index/YYYY/MM — continuous.py:17-26):
month-level summaries that re-aggregate to year/corpus level without
touching the raw rows.

Correctness note (why these are oracle-checkable at all): DataSketches
HLL is EXACT below its promotion threshold (coupon/sparse mode), and KLL
retains every item until its buffer (~k items) first compacts, so at the
driver's oracle scale the estimates equal exact answers; tests gate the
approximate regime (larger n) by relative error and by the merge
invariant (union-of-parts == direct sketch).  Determinism: in exact mode
the result is independent of merge order, so the nondeterministic
``collect_list`` ordering below cannot change values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_LG_K = 12  # log2 of the HLL register count
KLL_K = 2048  # KLL sketch size: ~1.65/sqrt(k) rank error, exact below k items


def hll_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value_col: str,
) -> DataFrame:
    """Distinct-count rollup through HLL sketches.

    Builds one HLL sketch per ``fine_keys`` group, then unions the
    sketches up to ``coarse_keys`` (a subset of ``fine_keys``) and
    estimates.  The union is lossless for same-``HLL_LG_K`` sketches
    (register-wise max), so the merged estimate equals the estimate of a
    sketch built directly on the coarse group.

    Returns ``coarse_keys + [n_fine_groups, est_distinct]``.
    """
    fine = df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(HLL_LG_K)).alias("__sk")
    )
    return fine.groupBy(*coarse_keys).agg(
        F.count("*").alias("n_fine_groups"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("__sk"), F.lit(False))).alias(
            "est_distinct"
        ),
    )


def _kll_merge_fold(col: str) -> Column:
    """Fold a collected array of KLL sketches with the binary merge.

    ``kll_sketch_merge_double`` is a scalar (left, right) function, not
    an aggregate; per-coarse-group sketch counts are small (one per fine
    group), so a driver-free fold over ``collect_list`` is the right
    shape — the sketches being merged are already tiny summaries.
    """
    # slice length must be size-1 exactly: an INT_MAX sentinel overflows
    # (start + length wraps) and silently yields an empty slice.
    return F.expr(
        f"""aggregate(slice({col}, 2, greatest(size({col}) - 1, 0)), {col}[0],
                      (acc, x) -> kll_sketch_merge_double(acc, x))"""
    )


def kll_quantile_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value_col: str,
    quantiles: list[float],
) -> DataFrame:
    """Quantile rollup through KLL sketches.

    One KLL(``KLL_K``) sketch per fine group (map-side partials), merged per
    coarse group, then queried at ``quantiles``.  KLL answers with an
    actual stream item (an order statistic), matching DuckDB's
    ``quantile_disc`` exactly while n < k; beyond that the rank error is
    the published ~1.65/sqrt(k) bound, gated in tests.

    Returns ``coarse_keys + [q_<pct> ...]`` — one scalar column per
    requested quantile (canon-safe: no array outputs).
    """
    fine = df.groupBy(*fine_keys).agg(
        F.expr(
            f"kll_sketch_agg_double(cast({value_col} as double), {KLL_K})"
        ).alias("__kll")
    )
    merged = fine.groupBy(*coarse_keys).agg(
        F.collect_list("__kll").alias("__klls")
    )
    qarr = ", ".join(f"{q}D" for q in quantiles)
    merged = merged.withColumn("__merged", _kll_merge_fold("__klls")).withColumn(
        "__qs",
        F.expr(f"kll_sketch_get_quantile_double(__merged, array({qarr}))"),
    )
    cols = [F.col("__qs")[i].alias(f"q_{int(q * 100)}") for i, q in enumerate(quantiles)]
    return merged.select(*coarse_keys, *cols)


def kll_group_quantiles(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: list[float],
    count_as: str = "n",
) -> DataFrame:
    """Per-group quantiles + count from ONE map-side-combinable
    KLL(``KLL_K``) aggregate — the single-level sibling of :func:`kll_quantile_rollup`
    and the 100 TB replacement for exact ``percentile()`` aggregates,
    whose ObjectHashAggregate buffers hold EVERY group value in executor
    memory (exact interpolated percentiles are unbounded-state; KLL is
    O(k) state with the published ~1.65/√k rank-error bound, gated in
    tests at sf0.01 AND sf0.1).

    Returns ``keys + [count_as, q_<pct>...]``; quantile column names use
    round(q*100) so q=0.95 → ``q_95`` (int() would floor 94.999… to 94).
    """
    qarr = ", ".join(f"{q}D" for q in quantiles)
    agg = df.groupBy(*keys).agg(
        F.count("*").cast("long").alias(count_as),
        F.expr(
            f"kll_sketch_get_quantile_double("
            f"kll_sketch_agg_double(cast({value_col} as double), {KLL_K}), "
            f"array({qarr}))"
        ).alias("__qs"),
    )
    cols = [
        F.col("__qs")[i].alias(f"q_{round(q * 100)}")
        for i, q in enumerate(quantiles)
    ]
    return agg.select(*keys, count_as, *cols)


def kll_group_multi_quantiles(
    df: DataFrame,
    keys: list[str],
    specs: list[tuple[str, float, str]],
    extra_aggs: list | None = None,
) -> DataFrame:
    """Multi-column sibling of :func:`kll_group_quantiles`: per-group
    quantiles over SEVERAL value columns from ONE grouped aggregate —
    one KLL(``KLL_K``) sketch per distinct value column, all map-side
    combinable, one scan, one shuffle.  ``specs`` is a list of
    ``(value_col, quantile, out_name)``; quantiles naming the same
    column share its sketch.  ``extra_aggs`` lets bounded-state exact
    aggregates (avg, count, sum) ride the same groupBy so the sketch
    twin of a mixed exact/percentile query stays single-pass.

    Returns ``keys + [n, *out_names, *extra_agg_names]``.
    """
    by_col: dict[str, list[tuple[float, str]]] = {}
    for col, q, name in specs:
        by_col.setdefault(col, []).append((q, name))
    aggs = [F.count("*").cast("long").alias("n")]
    for i, (col, qs) in enumerate(by_col.items()):
        qarr = ", ".join(f"{q}D" for q, _ in qs)
        aggs.append(
            F.expr(
                f"kll_sketch_get_quantile_double("
                f"kll_sketch_agg_double(cast({col} as double), {KLL_K}), "
                f"array({qarr}))"
            ).alias(f"__qs_{i}")
        )
    agg = df.groupBy(*keys).agg(*aggs, *(extra_aggs or []))
    cols = []
    extra_names = [c for c in agg.columns if c not in set(keys) | {"n"}
                   and not c.startswith("__qs_")]
    for i, (col, qs) in enumerate(by_col.items()):
        for j, (q, name) in enumerate(qs):
            cols.append(F.col(f"__qs_{i}")[j].alias(name))
    return agg.select(*keys, "n", *cols, *extra_names)


def bitmap_distinct_rollup(
    df: DataFrame,
    fine_cols: list[str],
    coarse_cols: list[str],
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """EXACT mergeable distinct-count rollup via 64-bit bitmap chunks
    (the roaring-bitmap technique of Druid/ClickHouse, in pure SQL).

    Each integer id sets one bit: chunk = id div 64, bit = id mod 64;
    the fine level aggregates ``bit_or(1 << bit)`` per (fine_cols,
    chunk) — a map-side-combinable integer OR.  Any coarser level then
    re-ORs the CHUNK table (rows ∝ distinct-ids/64 per group, not raw
    events) and counts bits — exact distincts at every level without
    ever re-shuffling raw rows, where HLL (:func:`hll_rollup`) trades
    exactness for fixed size.  The right tool when ids are dense
    integers (user ids, doc ids): bitmap size tracks the id RANGE, not
    the event count.

    Returns (fine_counts, coarse_counts) DataFrames with an exact
    ``n_distinct`` each.  Requires non-negative integer ids (pmod keeps
    hash-derived negatives safe but collapses range only for dense ids).
    """
    chunk = F.expr(f"{id_col} div 64").alias("__chunk")
    bit = F.expr(f"shiftleft(1L, CAST(pmod({id_col}, 64) AS INT))")
    bitmaps = (
        df.select(*fine_cols, chunk, bit.alias("__bit"))
        .groupBy(*fine_cols, "__chunk")
        .agg(F.expr("bit_or(__bit)").alias("__bits"))
        # both output levels fold this one chunk table; one eager
        # localCheckpoint keeps the raw-event scan + OR shuffle
        # single-pass and leaves no cache entry behind
        .localCheckpoint(eager=True)
    )
    fine = bitmaps.groupBy(*fine_cols).agg(
        F.sum(F.bit_count("__bits")).cast("long").alias("n_distinct")
    )
    coarse = (
        bitmaps.groupBy(*coarse_cols, "__chunk")
        .agg(F.expr("bit_or(__bits)").alias("__bits"))
        .groupBy(*coarse_cols)
        .agg(F.sum(F.bit_count("__bits")).cast("long").alias("n_distinct"))
    )
    return fine, coarse


# ------------------------------------------------------------ count-min


def _cms_bucket(depth: Column, key: Column, width: int) -> Column:
    """Row hash for the count-min sketch: md5 of ``depth:key`` → first 4
    hex chars → int mod width.  md5-derived (not xxhash64) so DuckDB can
    compute the IDENTICAL bucket (`CAST('0x'||substring(md5(..),1,4) AS
    INTEGER) % width`) — the same cross-engine trick every
    content-addressed sampler in this repo uses."""
    h = F.md5(F.concat_ws(":", depth.cast("string"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % width).alias(
        "bucket"
    )


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Count–min sketch build: ``depth`` × ``width`` counter cells as a
    (depth, bucket, n) table.

    CMS (Cormode & Muthukrishnan 2005) answers point frequency queries
    over an unbounded key space in O(depth·width) memory: est(k) =
    min_d cells[d][h_d(k)], an overestimate by at most εN (ε≈e/width)
    with probability 1−e^−depth.  The 100 TB story: the full per-key
    count table of a web-scale corpus has billions of rows; the CMS is
    a fixed ≤ depth·width-row table (2048 cells here) built by ONE
    map-side-combined shuffle on (depth, bucket) — the counter table
    broadcasts to any downstream probe join, where the exact count
    table would itself be a fact-sized shuffle.  Mergeable: cell-wise
    sum of two sketches is the sketch of the union (same monoid
    contract as hll_rollup above).
    """
    rows = df.select(F.col(key_col).cast("string").alias("k"))
    cells = rows.select(
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth"),
    )
    return (
        cells.select("depth", _cms_bucket(F.col("depth"), F.col("k"), width))
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Probe a count-min sketch: min over depth rows of the hashed cell.

    ``probes`` is expected to be small relative to the corpus (the keys
    under investigation); the sketch itself is ≤ depth·width rows, so
    Catalyst broadcasts it and the probe never shuffles.
    """
    probe_cells = probes.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth"),
    ).select(
        key_col, "depth", _cms_bucket(F.col("depth"), F.col(key_col), width)
    )
    return (
        probe_cells.join(F.broadcast(cms), ["depth", "bucket"])
        .groupBy(key_col)
        .agg(F.min("n").alias("est_n"))
    )


def ks_d_kll(
    df: DataFrame,
    is_a: Column,
    value_col: str,
    k: int = 2048,
    n_probe: int = 256,
) -> DataFrame:
    """Approximate two-sample KS statistic via KLL sketches — the
    documented 100 TB path for ``stats_ks_test``.

    The exact query aggregates to the VALUE level and runs a cumulative
    window over it; for a genuinely continuous metric distinct-count ≈
    row-count and that value table is corpus-sized. This form never
    builds it: ONE scan folds each sample into a KLL(k) sketch
    (map-side-combinable partials, a single 1-row reduce), then
    D = max |CDF_a − CDF_b| is estimated over the union of both
    sketches' ``n_probe``-point quantile grids using
    ``kll_sketch_get_rank``. The rank function needs FOLDABLE probe
    values, so the two KB-sized sketches + probe grid round-trip
    through the driver (a bounded scalar fetch, like the exact query's
    ``tot`` row) and a second one-row job evaluates the rank arrays —
    no value-level shuffle, no window, the corpus is scanned once.

    Error bound (gated in tests/test_sketches.py at sf0.01 AND sf0.1):
    each sketch CDF carries the published KLL rank error ε(k)≈1.65/√k,
    and probing each sample at its own 1/n_probe quantile grid bounds
    the between-probe CDF increment, so
    |D_kll − D_exact| ≤ 2·ε(k) + 2/n_probe.

    Output: one row ``(n_a, n_b, d_stat, reject_05)`` — the same shape
    as the exact query (d_stat unrounded; compare with the bound, not
    for equality).
    """
    spark = df.sparkSession
    v = F.col(value_col).cast("double")
    grid = ", ".join(f"{i / n_probe!r}D" for i in range(n_probe + 1))
    # ONE corpus scan: two sketch aggregates + counts + each sample's
    # quantile grid, collected to the driver — a BOUNDED fetch (two
    # KB-sized sketches + 2·(n_probe+1) doubles), the same annotated
    # driver-scalar shape as stats_ks_test's tot row.
    row = (
        df.select(
            F.when(is_a, v).alias("__va"), F.when(~is_a, v).alias("__vb")
        )
        .agg(
            F.expr(f"kll_sketch_agg_double(__va, {k})").alias("ska"),
            F.expr(f"kll_sketch_agg_double(__vb, {k})").alias("skb"),
            F.count("__va").cast("long").alias("n_a"),
            F.count("__vb").cast("long").alias("n_b"),
        )
        .select(
            "ska",
            "skb",
            "n_a",
            "n_b",
            # CASE guards: the quantile UDF throws on the null sketch an
            # all-empty sample leaves behind (empty partitions happen)
            F.expr(
                "CASE WHEN n_a > 0 THEN "
                f"kll_sketch_get_quantile_double(ska, array({grid})) END"
            ).alias("qa"),
            F.expr(
                "CASE WHEN n_b > 0 THEN "
                f"kll_sketch_get_quantile_double(skb, array({grid})) END"
            ).alias("qb"),
        )
        .collect()[0]
    )
    if not row["n_a"] or not row["n_b"]:
        return spark.createDataFrame(
            [],
            "n_a long, n_b long, d_stat double, reject_05 boolean",
        )
    # rank functions require FOLDABLE probe values, so the merged probe
    # grid round-trips through the driver as a literal array; the
    # second job touches one row (the two sketches), not the corpus.
    probes = sorted(set(row["qa"]) | set(row["qb"]))
    one = spark.createDataFrame(
        [(bytearray(row["ska"]), bytearray(row["skb"]))],
        "ska binary, skb binary",
    )
    lit_probes = ", ".join(f"{p!r}D" for p in probes)
    d_expr = F.expr(
        f"""array_max(zip_with(
              kll_sketch_get_rank_double(ska, array({lit_probes})),
              kll_sketch_get_rank_double(skb, array({lit_probes})),
              (ra, rb) -> abs(ra - rb)))"""
    )
    n_a, n_b = int(row["n_a"]), int(row["n_b"])
    crit = 1.358 * ((n_a + n_b) / (n_a * n_b)) ** 0.5
    return one.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        d_expr.alias("d_stat"),
        (d_expr > F.lit(crit)).alias("reject_05"),
    )


def mwu_p_kll(
    df: DataFrame,
    is_a: Column,
    value_col: str,
    k: int = 2048,
    n_probe: int = 256,
) -> DataFrame:
    """Approximate Mann-Whitney effect size P(X_a > X_b) via KLL
    sketches — the 100 TB companion of :func:`ks_d_kll` for the exact
    ``stats_mannwhitney_u`` (whose rank window runs over the VALUE-level
    aggregate: fine for fixed-point metrics, corpus-sized for genuinely
    continuous ones).

    U/(n_a·n_b) = P(X_a > X_b) + ½P(X_a = X_b) = ∫ F_b(x⁻) dF_a(x);
    the integral is evaluated by the midpoint rule on sample A's
    ``n_probe``-point quantile grid: P ≈ (1/n_probe) Σ_i F_b(q_a((i+½)/n_probe)).
    Same one-scan shape as ks_d_kll: two mergeable sketches, a bounded
    driver fetch, one 1-row follow-up job.  The z statistic derives from
    U = P·n_a·n_b with the standard normal approximation (no tie
    correction — the sketch path targets continuous metrics where ties
    are measure-zero; the exact query handles tied fixed-point data).

    Error bound (gated in tests/test_sketches.py at sf0.01 AND sf0.1):
    each of rank lookup and quantile probe carries ε(k)≈1.65/√k and the
    midpoint grid contributes ≤ 1/n_probe, so
    |P_kll − P_exact| ≤ 2·ε(k) + 1/n_probe.

    Output: one row ``(n_a, n_b, p_a_gt_b, u_est, z_stat)``.
    """
    spark = df.sparkSession
    v = F.col(value_col).cast("double")
    # midpoint grid: (i + 0.5)/n_probe, i = 0..n_probe-1
    grid = ", ".join(f"{(i + 0.5) / n_probe!r}D" for i in range(n_probe))
    row = (
        df.select(
            F.when(is_a, v).alias("__va"), F.when(~is_a, v).alias("__vb")
        )
        .agg(
            F.expr(f"kll_sketch_agg_double(__va, {k})").alias("ska"),
            F.expr(f"kll_sketch_agg_double(__vb, {k})").alias("skb"),
            F.count("__va").cast("long").alias("n_a"),
            F.count("__vb").cast("long").alias("n_b"),
        )
        .select(
            "skb",
            "n_a",
            "n_b",
            F.expr(
                "CASE WHEN n_a > 0 THEN "
                f"kll_sketch_get_quantile_double(ska, array({grid})) END"
            ).alias("qa"),
        )
        .collect()[0]
    )
    n_a, n_b = int(row["n_a"]), int(row["n_b"])
    if not n_a or not n_b:
        return spark.createDataFrame(
            [],
            "n_a long, n_b long, p_a_gt_b double, u_est double, z_stat double",
        )
    one = spark.createDataFrame(
        [(bytearray(row["skb"]),)], "skb binary"
    )
    lit_probes = ", ".join(f"{p!r}D" for p in row["qa"])
    p_expr = F.expr(
        f"""aggregate(
              kll_sketch_get_rank_double(skb, array({lit_probes})),
              0.0D, (acc, r) -> acc + r) / {float(len(row['qa']))!r}D"""
    )
    import math

    sigma = math.sqrt(n_a * n_b * (n_a + n_b + 1) / 12.0)
    u_expr = p_expr * F.lit(float(n_a * n_b))
    return one.select(
        F.lit(n_a).cast("long").alias("n_a"),
        F.lit(n_b).cast("long").alias("n_b"),
        p_expr.alias("p_a_gt_b"),
        u_expr.alias("u_est"),
        ((u_expr - F.lit(n_a * n_b / 2.0)) / F.lit(sigma)).alias("z_stat"),
    )
