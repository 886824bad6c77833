"""Connected components over an undirected edge list — the iterative
closure step that turns near-duplicate *pairs* (operators/dedup.py)
into duplicate *clusters* (single-link transitive closure).

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14). Each
round is two shuffles (groupBy on node); the component id converges to
the minimum node id reachable — O(log n) rounds on real graphs, each
round a pure DataFrame transform.

Why not GraphX/graphframes: not available from PySpark without extra
jars; this needs only groupBy/join and stays in the DataFrame engine.

Scale notes: edges pass a ``session.barrier`` each round to cut
lineage growth — an iterative plan otherwise compounds into an
exponentially deep tree; convergence is detected with a count of
changed edges (one action per round, unavoidable for a data-dependent
loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_unload_to_gcs_spark.session import barrier


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect strictly-greater neighbors to min) or
    small-star (connect not-greater neighbors to min) round. Input and
    output are canonical (u, v) edges with u = node, v = neighbor."""
    both = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    grouped = both.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.array_min(F.concat(F.col("nbrs"), F.array(F.col("u"))))
    if large:
        # every neighbor > u links to min(N(u) + u)
        out = grouped.select(
            F.col("u"),
            m.alias("m"),
            F.filter(F.col("nbrs"), lambda x: x > F.col("u")).alias("targets"),
        )
    else:
        # every neighbor <= u AND u itself link to the min
        out = grouped.select(
            F.col("u"),
            m.alias("m"),
            F.concat(
                F.filter(F.col("nbrs"), lambda x: x <= F.col("u")),
                F.array(F.col("u")),
            ).alias("targets"),
        )
    exploded = out.select(F.explode("targets").alias("u"), F.col("m").alias("v"))
    return exploded.filter(F.col("u") != F.col("v")).distinct()


def _driver_union_find(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find with path compression; component id = min member."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so the representative is the minimum id
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return [(node, find(node)) for node in parent]


def connected_components(
    pairs: DataFrame,
    *,
    src_column: str = "id_a",
    dst_column: str = "id_b",
    max_rounds: int = 20,
    driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Resolve components: returns (node, component) where component is
    the minimum node id in the node's component. Nodes appearing in no
    edge are absent (callers left-join and coalesce to the node id).

    Size-gated execution (same philosophy as a broadcast threshold):
    near-dup edge sets are usually a tiny fraction of the corpus, so
    when the deduplicated edge count fits comfortably on the driver
    (<= ``driver_edge_threshold``), a collect + union-find resolves the
    closure in one pass — O(E α(E)), no per-round job overhead. Larger
    graphs run the distributed alternating-star loop, whose per-round
    convergence check is a single (count, hash-sum) aggregate rather
    than two exceptAll shuffles.
    """
    edges = barrier(
        pairs.select(F.col(src_column).alias("u"), F.col(dst_column).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        eager=True,
    )
    n_edges = edges.count()
    spark = pairs.sparkSession
    if n_edges <= driver_edge_threshold:
        resolved = _driver_union_find([(r.u, r.v) for r in edges.collect()])
        return spark.createDataFrame(resolved, "node long, component long")

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)), F.sum(F.xxhash64("u", "v")), F.sum("v")
        ).first()
        return tuple(row)

    prev = fingerprint(edges)
    for _ in range(max_rounds):
        after_large = _star_round(edges, large=True)
        edges = barrier(_star_round(after_large, large=False), eager=True)
        cur = fingerprint(edges)
        # stable (count, hash-sum) => fixed point (collision odds ~2^-64)
        if cur == prev:
            break
        prev = cur
    comp = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return comp.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def pagerank(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    checkpoint_interval: int = 8,
    broadcast_node_limit: int = 2_000_000,
) -> DataFrame:
    """Bounded-iteration PageRank in exact BIGINT arithmetic — the
    iterative-DataFrame-algorithm pattern, cross-engine bit-exact so it
    can carry a full value oracle (floating-point PageRank cannot: the
    per-node in-flow sum has engine-dependent fold order).

    Semantics (the simple "leaky" formulation — dangling mass is not
    redistributed, standard in bounded-iteration implementations):
      rank_0(v)   = scale
      rank_t+1(v) = ((100-d)*scale) div 100
                    + (d * Σ_{u→v} (rank_t(u) div outdeg(u))) div 100
    All operations are integral (div truncates; every operand positive),
    so Spark and the SQL oracle agree bit-for-bit. Overflow headroom:
    total mass ≤ |V|·scale, so d·Σ fits in int64 for |V|·scale < 9e16
    (|V| up to ~9e7 at the default scale).

    Plan (100 TB posture): edges carry their out-degree (computed once,
    one shuffle) and pass one ``session.barrier``, with the node set,
    since every iteration reads them. The rank frame is |V| rows —
    orders of magnitude smaller than the edge list on real graphs — so
    when |V| fits a broadcast (``broadcast_node_limit``, known exactly
    after the one nodes count), each iteration joins the edges as they
    are against BROADCAST ranks: one shuffle per iteration (the
    groupBy(dst) in-flow sum, which also absorbs one zero row per node
    so dangling nodes surface without a second join or an in-flow
    broadcast). Only above the limit are the edges repartitioned by
    src, once, so the sort-merge rank join of every iteration reuses
    that partitioning. Ranks checkpoint only every ``checkpoint_interval``
    rounds: an eager barrier per round costs a blocking job each (~3x
    wall clock at 5 iterations measured), while the lineage of a
    handful of rounds is shallow enough to run as one composite plan —
    truncation is only needed to stop UNBOUNDED growth on long runs
    (same rationale as connected_components above).
    """
    src, dst = F.col(src_column), F.col(dst_column)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Materialize (src, dst, outdeg) once — every iteration consumes it.
    edged = barrier(e.join(outdeg, on="src"), eager=True)
    nodes = barrier(
        edged.select(F.col("src").alias("node"))
        .unionByName(edged.select(F.col("dst").alias("node")))
        .distinct(),
        eager=True,
    )
    # (node, rank) is 16 bytes/row raw, but a built HashedRelation runs
    # ~4-8x that (InternalRow + hash table overhead), and the explicit
    # hint bypasses autoBroadcastJoinThreshold's safety check — so the
    # default limit is 2M rows (~tens-to-low-hundreds of MB built),
    # comfortably inside a default driver heap. The count is one cheap
    # job over the checkpointed nodes frame.
    small = nodes.count() <= broadcast_node_limit
    hint = F.broadcast if small else (lambda df: df)
    if not small:
        # Only the above-limit arm joins ranks by sort-merge, which is
        # what the src partitioning is FOR. In the broadcast arm the
        # rank join never shuffles edges, so pre-partitioning them was
        # a pure extra exchange of the edge list (opt r16, §2.4 —
        # measured as the dominant setup cost at fixture scale). One
        # exchange over the checkpointed blocks, shared by every
        # iteration's join via the per-plan exchange reuse.
        edged = edged.repartition(F.col("src"))
    teleport = (100 - damping_pct) * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    zero = nodes.select("node", F.lit(0).cast("long").alias("contrib"))
    for i in range(iterations):
        contribs = edged.join(
            hint(ranks.withColumnRenamed("node", "src")), on="src"
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank div outdeg").alias("contrib"),
        )
        # zero-row union instead of a nodes LEFT JOIN broadcast(inflow)
        # (opt r15, guide §2.4): every node rides the in-flow groupBy as
        # one extra zero row, so dangling nodes still surface and the
        # per-iteration in-flow BROADCAST BUILD (|V| rows shipped to
        # every executor, a driver-blocking step each round) disappears;
        # sum(contrib)+0 is the same exact BIGINT in-flow. Measured
        # result-identical on the ship graph.
        inflow = contribs.unionByName(zero).groupBy("node").agg(
            F.sum("contrib").alias("inflow")
        )
        ranks = inflow.select(
            "node",
            (
                F.lit(teleport)
                + F.expr(f"({damping_pct} * inflow) div 100")
            ).cast("long").alias("rank"),
        )
        if (i + 1) % checkpoint_interval == 0 and (i + 1) < iterations:
            ranks = barrier(ranks, eager=True)
    return ranks


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_column: str,
    src_column: str = "id_a",
    dst_column: str = "id_b",
) -> DataFrame:
    """Annotate ``df`` with a ``cluster_id`` = min id of its near-dup
    component (its own id when unpaired). Keeping ``cluster_id ==
    id_column`` rows implements true single-link dedup."""
    comps = connected_components(pairs, src_column=src_column, dst_column=dst_column)
    joined = df.join(
        comps.withColumnRenamed("node", id_column), on=id_column, how="left"
    )
    return joined.withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(id_column))
    ).drop("component")


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_column: str,
    quality_column: str,
    src_column: str = "id_a",
    dst_column: str = "id_b",
) -> DataFrame:
    """Single-link dedup that keeps the HIGHEST-``quality_column`` row
    of each near-duplicate cluster (ties broken by smaller id —
    deterministic) instead of the arbitrary min-id survivor of
    ``dedup_clusters``. This is the production corpus shape: when a
    crawl contains a clean original and nine boilerplate-wrapped
    copies, the quality-aware survivor keeps the original.

    One ``min_by`` aggregation over the clustered frame (clusters are
    tiny relative to the corpus; unpaired docs survive untouched): the
    winner per cluster_id is computed on (cluster_id, id, quality) —
    three narrow columns — and joined back by id, so document payloads
    never ride through the aggregation.

    ``quality_column`` must be NUMERIC (it is negated to express
    "max quality, ties to min id" as one map-side partial ``min_by``);
    ``id_column`` may be any orderable type — it is compared, never
    negated (ADVICE r04: the previous ``-id`` tie-break silently cast
    non-numeric ids to NULL, making ties arbitrary). A NULL quality
    always LOSES to any scored row (the leading null-flag field —
    without it, min_by's null-first struct ordering would crown the
    unscored row); all-NULL clusters fall back to the min id."""
    clustered = dedup_clusters(
        df, pairs, id_column=id_column, src_column=src_column, dst_column=dst_column
    )
    q = F.col(quality_column)
    winners = (
        clustered.select("cluster_id", F.col(id_column), q)
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                F.col(id_column),
                F.struct(
                    q.isNull().cast("int").alias("unscored"),
                    (-q).alias("neg_q"),
                    F.col(id_column).alias("tie"),
                ),
            ).alias(id_column)
        )
        .select(id_column)
    )
    return df.join(winners, on=id_column, how="left_semi")
