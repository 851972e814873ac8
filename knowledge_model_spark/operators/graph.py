"""Distributed connected components — dup-pair graphs → clusters.

The dedup operators (exact / n-gram Jaccard / MinHash-LSH / SimHash /
embedding-cosine, operators/dedup.py) emit near-duplicate PAIRS; a real
training-data pipeline must then group pairs into clusters and keep one
survivor per cluster (the reference's first-seen-wins key dedup,
knowledge_model/main.py:283-291 + inference/postprocess.py:75-112, is
the 2-node special case of this).  Connected components is the standard
formulation; at 100 TB the dup graph has billions of edges, so this is
an iterative DataFrame algorithm, not a driver-side union-find.

Algorithm: min-label propagation with pointer jumping —
each round every node takes the smallest label among itself and its
neighbors (one shuffle), then labels chase their own label's label
(path halving, one more shuffle).  Pointer jumping makes convergence
O(log diameter) rounds instead of O(diameter); near-dup clusters are
near-cliques, so 2-3 rounds typically suffice.  Lineage is truncated
every round with localCheckpoint — on a cluster with a configured
checkpoint dir, swap for ``checkpoint()`` to also survive executor
loss.  Labels only ever decrease, so the sum of labels is a monotone
convergence witness: when it stops changing, the fixpoint is reached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# connected_components, kcore and bfs_hops solve a graph on the driver when
# its symmetrized edge list holds at most this many rows.
DRIVER_GATE = 200_000

# pagerank / personalized_pagerank truncate the rank lineage every this
# many rounds.
CHECKPOINT_EVERY = 4

# kcore and bfs_hops raise after this many peel rounds / BFS depths.
MAX_PEEL_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``.

    ``component`` is the minimum node id reachable from the node —
    deterministic across runs, partitionings, and cluster sizes.
    Raises if ``max_iter`` rounds don't reach the fixpoint (pointer
    jumping needs ~log2(longest path) rounds; 30 covers any graph whose
    diameter fits in an int).

    Small-graph short-circuit (the BPE/unigram-LM driver-EM recipe):
    when the symmetrized edge list holds at most ``DRIVER_GATE`` rows
    (a count that rides the edge checkpoint's materializing job via
    observe()), the fixpoint runs as a min-rooted union-find on the
    driver — the pair graph a DEDUP pipeline feeds here is near-dup
    pairs, orders of magnitude smaller than the corpus, so at test
    scale every distributed round is pure scheduling floor.  The
    result is the same exact graph property (min reachable id —
    integer arithmetic, no float drift), pinned equal to the
    distributed loop by tests/test_graph.py at gate 0 vs default.
    Above the gate the distributed loop is byte-identical to before.
    """
    from pyspark.sql import Observation

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the symmetrized edge list ONCE: `sym` joins into every
    # propagation round, so without a barrier the caller's whole edge
    # lineage (e.g. er_name_clusters' q-gram fuzzy join) re-executes per
    # round — measured as the dominant cost of the ER pipeline at sf0.1
    sym_obs = Observation()
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .observe(sym_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_sym = int(sym_obs.get["n"])
    if n_sym == 0:
        # empty graph: schema-correct empty result straight off the
        # checkpoint — no driver round trip, no propagation rounds
        return sym.select(
            F.col("a").alias("node"), F.col("a").alias("component")
        ).limit(0)
    if n_sym <= DRIVER_GATE:
        from pyspark.sql.types import StructField, StructType

        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        rows = sym.collect()
        for a, b in rows:
            ra, rb = find(a), find(b)
            if ra != rb:
                # always keep the smaller id as root, so every final
                # root IS the component minimum
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        atype = sym.schema["a"].dataType
        schema = StructType(
            [
                StructField("node", atype, False),
                StructField("component", atype, False),
            ]
        )
        data = [(x, find(x)) for x in sorted({a for a, _ in rows})]
        return sym.sparkSession.createDataFrame(data, schema)
    # label_0 = min(node, min neighbor) — exactly what the first
    # neighbor-propagation round would compute from identity labels, so
    # seeding it here saves one full loop round (join + agg + checkpoint)
    # for every caller; the fixpoint (min reachable id) is unchanged.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.first("a"), F.min("b")).alias("label"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(max_iter):
        # 1. neighbor propagation: label(v) <- min(label(v), label(u) for u~v)
        nbr = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), "label"
        )
        labels = (
            labels.unionByName(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
        # 2. pointer jumping: label(v) <- label(label(v)) — halves chain depth
        hop = labels.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        # labels are positive and only decrease → sum is a monotone
        # witness; decimal(38,0) accumulation cannot overflow for any
        # realistic graph (int64 sums would wrap silently — or throw
        # under ANSI — for billions of hash-derived ids).  The witness
        # rides the checkpoint's materializing job via observe() — ONE
        # action per round, not a checkpoint plus a separate sum scan.
        from pyspark.sql import Observation

        obs = Observation()
        labels = (
            labels.join(hop, labels["label"] == hop["l_node"], "left")
            .select("node", F.coalesce("l_label", "label").alias("label"))
            .observe(
                obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _dedup_with_outdeg(e: DataFrame) -> DataFrame:
    """Distinct (s, d) edges with per-s out-degree in ONE exchange.

    ``e.distinct()`` followed by a ``count over (partition by s)`` window
    pays two full shuffles of the edge list (Exchange(s, d) for the
    distinct aggregate, then Exchange(s) for the window).  Hash-
    partitioning by ``s`` alone already satisfies the distinct
    aggregate's ClusteredDistribution((s, d)) — equal (s, d) rows are
    co-located — AND the window's required distribution, so an explicit
    repartition("s") lets both run on the same exchange (guide §2.4:
    two operations keyed the same way share one exchange).  Row values
    are identical: duplicates are exact copies, so which one survives
    is unobservable."""
    from pyspark.sql import Window

    return (
        e.repartition("s")
        .dropDuplicates(["s", "d"])
        .withColumn("outdeg", F.count("*").over(Window.partitionBy("s")))
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    symmetric: bool = False,
) -> DataFrame:
    """Synchronous PageRank over the directed edge set (``src`` → ``dst``),
    ``iterations`` rounds — (node, rank).

    The reference's corpus is citation-shaped (PubMed articles citing
    articles); link-analysis importance is the canonical iterative graph
    workload beyond components.  Each round is two joins and one
    aggregation, all partitioned by node id — the classic BSP shape that
    holds at billions of edges (contributions shuffle on ``dst`` only;
    no adjacency ever sits on the driver).

    Determinism (required for the DuckDB oracle): per-node contributions
    are folded in SORTED order (``aggregate(array_sort(collect_list))``)
    so floating-point sums are bit-identical at any parallelism — same
    convention as quality_dsir_weights.  Dangling nodes (no out-edges)
    simply leak their mass, and the oracle unrolls the identical
    recurrence, so the simplification cancels out.

    Ranks are FIXED-POINT int64 (scale 1e12) throughout: contributions
    are integer divisions, the per-node reduce is a plain ``sum(long)``
    — commutative and associative EXACTLY, so the result is
    bit-deterministic at any parallelism without the sorted-fold trick
    float sums need (and an integer sum is a map-side-combinable
    HashAggregate, vastly cheaper than collect_list + array_sort).
    This is the standard way to make iterative numeric algorithms
    reproducible on a cluster: quantize once, iterate in exact integer
    arithmetic, convert at the edge.  Total mass is ≤ the scale (1e12),
    so sums can never overflow int64 even on billion-node graphs.
    ``damping`` is applied as the rational p/q = damping rounded to
    1/100ths (17/20 for 0.85) — the DuckDB oracle mirrors the identical
    integer recurrence.

    The static sides (edges with pre-joined out-degree, the node set)
    are materialized ONCE with localCheckpoint and reused every round;
    rank lineage is truncated every ``CHECKPOINT_EVERY`` rounds (a
    3-round run needs none).  Swap localCheckpoint for ``checkpoint()``
    on a cluster, as in :func:`connected_components`.  The single
    driver scalar is the node count (one number).

    Returns (node, rank_e12 long, rank double) — ``rank_e12`` is the
    exact fixed-point value (hash-stable), ``rank`` the float view.
    """
    SCALE = 10**12
    p = int(round(damping * 100))
    q = 100
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    # distinct + out-degree share one exchange (see _dedup_with_outdeg)
    ed = _dedup_with_outdeg(e).localCheckpoint(eager=True)
    # node set from the checkpointed edges — reads the materialized
    # rows, not the upstream scan.  ``symmetric=True`` (caller declares
    # every edge also appears reversed): the source column alone covers
    # every node, and because ed is hash-partitioned by s the distinct
    # needs NO new exchange.  The node count rides the checkpoint's
    # materializing job via observe() — no separate count scan.
    from pyspark.sql import Observation

    nodes = ed.select(F.col("s").alias("node"))
    if not symmetric:
        nodes = nodes.unionByName(ed.select(F.col("d").alias("node")))
    obs = Observation()
    nodes = (
        nodes.distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n = obs.get["n"]
    if n == 0:
        # empty edge set: schema-correct empty ranks, not a division
        # by zero (empty-input sweep contract)
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_e12"),
            F.lit(0.0).alias("rank"),
        ).limit(0)
    # localCheckpoint erases size statistics (LogicalRDD defaults to
    # size-unknown), so Catalyst would SortMergeJoin the huge edge list
    # against the node-sized rank table every round.  We KNOW the rank
    # cardinality — it is n — so hint the broadcast ourselves while the
    # node set plausibly fits executor memory; beyond that the SMJ is
    # correct anyway (both sides hash on the same key, so the exchanges
    # are reused across rounds).
    bcast = (lambda d: F.broadcast(d)) if n <= 5_000_000 else (lambda d: d)
    teleport_fp = (SCALE * (q - p)) // (q * n)
    ranks = nodes.withColumn("rank_fp", F.lit(SCALE // n).cast("long"))
    for i in range(iterations):
        contribs = ed.join(bcast(ranks), ed["s"] == ranks["node"]).select(
            F.col("d").alias("node"),
            F.expr("rank_fp div outdeg").alias("c"),
        )
        recv = contribs.groupBy("node").agg(F.sum("c").alias("recv"))
        ranks = nodes.join(bcast(recv), "node", "left").select(
            "node",
            (
                F.lit(teleport_fp)
                + F.expr(f"(coalesce(recv, 0L) * {p}) div {q}")
            ).cast("long").alias("rank_fp"),
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node",
        F.col("rank_fp").alias("rank_e12"),
        (F.col("rank_fp") / F.lit(float(SCALE))).alias("rank"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    symmetric: bool = False,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport mass returns to
    the ``seeds`` set instead of the uniform distribution (Haveliwala,
    WWW'02) — ranks become "importance AS SEEN FROM the seed topic",
    the graph-side relevance signal a retrieval stack combines with
    lexical/vector scores (seed = the query's matched documents).

    Same exact fixed-point int64 machinery as :func:`pagerank` (scale
    1e12, rational damping p/q, integer sums — bit-deterministic at any
    parallelism, oracle-matched by an unrolled integer recurrence); the
    two differences are the initial vector (mass SCALE split over
    seeds) and the per-node teleport term (0 for non-seeds).  Non-seed
    nodes unreachable from the seed set therefore converge to rank 0 —
    asserted in tests.

    ``seeds``: DataFrame with a ``node`` column; intersected with the
    graph's node set, deduplicated.  Plan shape per round is unchanged:
    one contribution join + one integer aggregate, both on node id.
    """
    SCALE = 10**12
    p = int(round(damping * 100))
    q = 100
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    # distinct + out-degree share one exchange (see _dedup_with_outdeg)
    ed = _dedup_with_outdeg(e).localCheckpoint(eager=True)
    from pyspark.sql import Observation

    nodes = ed.select(F.col("s").alias("node"))
    if not symmetric:
        nodes = nodes.unionByName(ed.select(F.col("d").alias("node")))
    # Unlike pagerank(), neither the bare node set nor the seed
    # intersection is consumed per round here — only ``base`` is.  So
    # the three materializing jobs (nodes, seed_set, base) collapse to
    # ONE: base carries a seed flag, and both scalars (node count for
    # the broadcast gate, seed count for the teleport/init literals)
    # ride its checkpoint via a single two-aggregate observe().  The
    # teleport/init literals depend on n_seeds, which is why base
    # stores the FLAG, not the terms — the literals bind lazily when
    # the round plans are built, after the checkpoint resolves.
    obs = Observation()
    base = (
        nodes.distinct()
        .join(
            seeds.select("node").distinct().withColumn("__s", F.lit(1)),
            "node",
            "left",
        )
        .select("node", F.coalesce(F.col("__s"), F.lit(0)).alias("seed"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("seed").alias("ns"),
        )
        .localCheckpoint(eager=True)
    )
    n = obs.get["n"]
    n_seeds = int(obs.get["ns"] or 0)
    if n_seeds == 0:
        return base.select(
            "node",
            F.lit(0).cast("long").alias("rank_e12"),
            F.lit(0.0).alias("rank"),
        ).limit(0)
    teleport_fp = (SCALE * (q - p)) // (q * n_seeds)
    init_fp = SCALE // n_seeds
    bcast = (lambda d: F.broadcast(d)) if n <= 5_000_000 else (lambda d: d)
    # seed * literal over int64 is the same value as the old CASE WHEN
    # seed THEN literal ELSE 0 — exact integer arithmetic either way
    ranks = base.select(
        "node", (F.col("seed") * F.lit(init_fp)).cast("long").alias("rank_fp")
    )
    for i in range(iterations):
        contribs = ed.join(bcast(ranks), ed["s"] == ranks["node"]).select(
            F.col("d").alias("node"),
            F.expr("rank_fp div outdeg").alias("c"),
        )
        recv = contribs.groupBy("node").agg(F.sum("c").alias("recv"))
        ranks = base.join(bcast(recv), "node", "left").select(
            "node",
            (
                (F.col("seed") * F.lit(teleport_fp)).cast("long")
                + F.expr(f"(coalesce(recv, 0L) * {p}) div {q}")
            ).cast("long").alias("rank_fp"),
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node",
        F.col("rank_fp").alias("rank_e12"),
        (F.col("rank_fp") / F.lit(float(SCALE))).alias("rank"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over the undirected
    ``(id_a, id_b)`` edges — (node, triangles).

    The classical graph-locality statistic (clustering coefficient's
    numerator; community-structure diagnostics over citation / co-click
    graphs).  Algorithm is the degree-ordered orientation of
    Suri & Vassilvitskii's MapReduce triangle count: orient every
    undirected edge from its lower-(degree, id) endpoint to the higher
    one, enumerate wedges only at each edge's SMALLER endpoint, and
    close them against the oriented edge list.  Orientation bounds
    every node's out-degree by O(sqrt(m)) regardless of how skewed the
    raw degree distribution is — the hub that would enumerate
    |hub-degree|² wedges under naive enumeration instead contributes
    only wedges at its (low-degree) neighbors.  Three shuffles total:
    the degree aggregation, the wedge self-join on the shared low
    endpoint, and the closing equi-join on (v, w).

    Every triangle is counted exactly once (its orientation-minimal
    vertex enumerates it), then exploded to all three corners for the
    per-node counts.  Deterministic at any parallelism — counts are
    exact integers.
    """
    e = (
        edges.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient low-(deg, id) → high-(deg, id); the degree table is
    # node-sized (≪ edges), so both enrichment joins broadcast when it
    # fits and hash-partition on the node key when it doesn't
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("o")
        )
        .select("o.u", "o.v")
    )
    w1 = oriented.select(F.col("u").alias("pivot"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u").alias("pivot"), F.col("v").alias("y"))
    wedges = w1.join(w2, "pivot").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"]).select(
        F.col("pivot").alias("n1"), F.col("x").alias("n2"), F.col("y").alias("n3")
    )
    return (
        tris.select(F.explode(F.array("n1", "n2", "n3")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )


def dedup_cluster_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop every non-minimal member of each near-dup cluster.

    ``pairs`` is any (id_a, id_b) output of the dedup ladder; rows of
    ``df`` whose id is a cluster member with a smaller-id representative
    are removed (first-seen-wins, matching the pairwise operators'
    keep-min convention).  The doomed-id set is tiny relative to the
    corpus (it IS the duplicates), so the anti-join broadcasts.
    """
    doomed = (
        connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(doomed, id_col, "left_anti")


def connected_components_incremental(
    old_labels: DataFrame,
    new_edges: DataFrame,
) -> DataFrame:
    """Fold a NEW batch of ``(id_a, id_b)`` dup-pair edges into an
    existing clustering.

    The monthly reality of a dedup pipeline: the pair graph grows with
    every ingest, and recomputing components over ALL historical edges
    is an O(corpus) job (the same trap as the reference's monthly
    full FAISS rebuild, pipeline.py:215-226).  Instead, the previous
    clustering is itself a spanning structure: every old component is
    exactly reconstructible from its (node → component) labels.  So
    components over (old labels AS edges) ∪ (new edges) equal
    components over (all old edges) ∪ (new edges) — proven in tests —
    while reading only |nodes| label rows instead of |edges| history.

    Cost ∝ new batch + label table; convergence is fast because the
    label "edges" are stars (depth 1): only chains created by NEW
    merges need pointer jumping.  Labels stay min-node-id, so ids are
    stable under incremental growth unless a merge discovers a smaller
    root (the same stability contract as the batch operator).
    """
    label_edges = old_labels.select(
        F.col("node").alias("id_a"), F.col("component").alias("id_b")
    )
    e = new_edges.select("id_a", "id_b")
    return connected_components(label_edges.unionByName(e))


def kcore(edges: DataFrame, k: int) -> DataFrame:
    """k-core decomposition of the undirected ``(id_a, id_b)`` edges: the
    maximal subgraph where every node has degree >= k (within the
    subgraph).  Returns (node, core_degree) for surviving nodes; raises
    after ``MAX_PEEL_ROUNDS`` rounds without a fixpoint.

    The classic iterative peel: drop nodes with degree < k, recompute
    degrees, repeat to fixpoint — the dup-graph hygiene pass that
    strips weakly-connected tendrils before clustering, and the
    standard "dense interaction core" cut on citation/link graphs.

    Scale shape per round: one map-side-combined degree aggregate +
    one broadcast-able semi join of the edge list against the
    surviving-node set (node-sized, ≪ edges); localCheckpoint
    truncates the per-round lineage exactly like connected_components.
    Rounds needed = longest peel cascade (a chain of m tendril nodes
    peels in m rounds) — data-bounded, convergence-witnessed by the
    exact surviving-EDGE count riding the checkpoint's materializing
    job via observe() (connected_components' one-action-per-round
    recipe): every node in ``sym`` has degree ≥ 1, so a dropped node
    always removes edges — the symmetric edge count is unchanged
    exactly when the surviving-node set is, and the former separate
    keep.count() job (which recomputed the degree aggregate the
    checkpoint job then built twice more) is gone.
    """
    from pyspark.sql import Observation

    e = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym_obs = Observation()
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .observe(sym_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if int(sym_obs.get["n"]) <= DRIVER_GATE:
        # small-graph short-circuit (connected_components' recipe): the
        # peel is exact integer arithmetic, so the driver result is
        # identical to the distributed fixpoint (pinned by test)
        from collections import defaultdict

        from pyspark.sql.types import LongType, StructField, StructType

        adj = defaultdict(set)
        for a, b in sym.collect():
            adj[a].add(b)
        alive = set(adj)
        while True:
            drop = {v for v in alive if len(adj[v]) < k}
            if not drop:
                break
            alive -= drop
            for v in drop:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
        atype = sym.schema["a"].dataType
        schema = StructType(
            [
                StructField("node", atype, False),
                StructField("core_degree", LongType(), False),
            ]
        )
        data = [(v, len(adj[v])) for v in sorted(alive)]
        return sym.sparkSession.createDataFrame(data, schema)
    prev_e = None
    for _ in range(MAX_PEEL_ROUNDS):
        deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(F.col("a").alias("node"))
        obs = Observation()
        new_sym = (
            sym.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .observe(obs, F.count(F.lit(1)).alias("e"))
            .localCheckpoint(eager=True)
        )
        cur_e = obs.get["e"]
        if cur_e == prev_e:
            # no edge dropped → keep == the surviving node set and
            # new_sym == sym row-for-row; the within-core degree is a
            # plain aggregate over the final checkpointed edges
            return (
                new_sym.groupBy("a")
                .agg(F.count("*").cast("long").alias("core_degree"))
                .select(F.col("a").alias("node"), "core_degree")
            )
        prev_e = cur_e
        sym = new_sym
    raise RuntimeError(f"kcore did not converge in {MAX_PEEL_ROUNDS} rounds")


def bfs_hops(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Minimum hop count from any source node over the undirected
    ``(id_a, id_b)`` edges, by synchronous frontier expansion (the BSP
    BFS every distributed graph engine runs).

    Returns (node, hops) for every node REACHABLE from ``sources``' ``node``
    column (sources themselves at 0); unreachable nodes are absent.
    Raises after ``MAX_PEEL_ROUNDS`` depths without an empty frontier.

    Scale shape per round: frontier ⋈ edges (frontier is the small
    side — broadcasts while it fits) + one anti join against the
    visited set; O(diameter) rounds, lineage truncated each round.
    Convergence = empty frontier, an exact driver scalar.  Small
    graphs (symmetrized edges ≤ ``DRIVER_GATE``) run the identical
    BFS on the driver — exact integer hop counts, two jobs total
    instead of two per depth (connected_components' recipe, pinned
    equal by test).
    """
    from pyspark.sql import Observation

    e = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    sym_obs = Observation()
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .observe(sym_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if int(sym_obs.get["n"]) <= DRIVER_GATE:
        from collections import defaultdict

        from pyspark.sql.types import LongType, StructField, StructType

        adj = defaultdict(list)
        for a, b in sym.collect():
            adj[a].append(b)
        srcs = sources.select("node").distinct()
        hops = {r[0]: 0 for r in srcs.collect()}
        frontier = list(hops)
        depth = 0
        while frontier:
            depth += 1
            nxt = []
            for v in frontier:
                for u in adj.get(v, ()):
                    if u not in hops:
                        hops[u] = depth
                        nxt.append(u)
            frontier = nxt
        ntype = srcs.schema["node"].dataType
        schema = StructType(
            [
                StructField("node", ntype, False),
                StructField("hops", LongType(), False),
            ]
        )
        return sym.sparkSession.createDataFrame(
            sorted(hops.items()), schema
        )
    visited = (
        sources.select("node")
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for depth in range(1, MAX_PEEL_ROUNDS + 1):
        # materialize the frontier BEFORE the emptiness probe so the
        # joins run once per round, not once for the probe and again
        # for the next round's lineage
        nxt = (
            sym.join(
                frontier.select(F.col("node").alias("a")), "a", "left_semi"
            )
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(depth).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            return visited
        frontier = nxt
        visited = visited.unionByName(frontier).localCheckpoint(eager=True)
    raise RuntimeError(f"bfs_hops did not converge in {MAX_PEEL_ROUNDS} rounds")


def link_prediction_jaccard(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_degree: int | None = None,
    k: int | None = 20,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction (Liben-Nowell/Kleinberg '03):
    score every NON-adjacent pair sharing ≥1 neighbor by
    ``|N(a)∩N(b)| / |N(a)∪N(b)|``.

    The wedge self-join through the shared neighbor costs Σdeg² — and
    unlike triangle counting, degree orientation cannot shrink it
    (every wedge IS a scored pair), so ``max_degree`` is the 100 TB
    lever: wedges are not generated THROUGH nodes above the cut (their
    neighbor lists are dropped from the wedge index), the graph twin of
    the dedup ``max_df`` stop-shingle.  Justified because hub-mediated
    wedges carry vanishing Jaccard: common ≤ 1 per hub while
    |N(a)∪N(b)| stays large.  Jaccard denominators keep TRUE degrees
    (the cap only prunes candidate generation, it never distorts a
    surviving pair's score).

    Returns (id_a, id_b, common, jaccard) — top-``k`` under the total
    (jaccard desc, id_a, id_b) order, or all pairs when ``k`` is None.
    ``common`` counts only wedges through uncapped nodes, so a capped
    run scores a (lossless-for-surviving-pairs) LOWER BOUND of common
    for pairs that also share hub neighbors — the standard trade.
    """
    e = (
        edges.select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count("*").cast("long").alias("d")
    )
    index = sym
    if max_degree is not None:
        keep = deg.filter(F.col("d") <= max_degree).select(
            F.col("node").alias("a")
        )
        index = sym.join(keep, "a")
    s1 = index.select(F.col("a").alias("n"), F.col("b").alias("id_a"))
    s2 = index.select(F.col("a").alias("n"), F.col("b").alias("id_b"))
    wedge = (
        s1.join(s2, "n")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    cand = wedge.join(
        e,
        (wedge["id_a"] == e["a"]) & (wedge["id_b"] == e["b"]),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("id_a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("id_b"), F.col("d").alias("db"))
    out = (
        cand.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    if k is None:
        return out
    return out.orderBy(F.col("jaccard").desc(), "id_a", "id_b").limit(k)
