"""Iterative graph algorithms as fixed-iteration DataFrame loops.

PageRank here runs in SCALED-INTEGER arithmetic (ranks are BIGINTs scaled
by 1e12; contributions use integer division): every operation is exact
and order-independent, so the result is bit-identical at any parallelism
AND reproducible by any other engine — the property float PageRank can
never have (double summation is partition-order dependent). The rounding
the integer division introduces is the same rounding a fixed-point HW
implementation makes; for ranking purposes it is far below rank gaps.

Scale shape per iteration: one shuffle join of edges⋈ranks on src (at
100 TB, pre-partition both on src so the join is co-located), one
groupBy(dst) with map-side partial sums. Fixed iterations -> lineage is
bounded; for many iterations checkpoint every ~5 to cut the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plan_stats import broadcast_gate

SCALE = 10 ** 12

# Auto path selection: the per-iteration rank/label table is broadcast
# while the NODE COUNT times a fixed per-row width passes
# plan_stats.broadcast_gate (rm.broadcastMaxBytes); above it the loop
# keeps the table partitioned so the iteration join shuffles instead of
# shipping an executor-crushing broadcast. Both paths are bit-identical
# (integer arithmetic; proven by the scale-stress equivalence tests), so
# the choice is purely physical. Catalyst sizeInBytes is deliberately
# NOT the input: size-only stats don't model the distinct/aggregate
# reduction, so a node set distilled from a large edge table inherits
# roughly the edge-scan size and the gate would never broadcast on
# exactly the |nodes| << |edges| graphs broadcast is for. The count is
# one aggregate per call; callers over an immutable graph decide once
# and pass the decision in (the registry's trade graph does, inside its
# fingerprint-checked memo build, where the count fills the persisted
# degree table the loop reads anyway).
# Conservative bytes per broadcast (node, rank/label) row. The JVM-side
# footprint of a broadcast hash relation entry for a string-keyed row is
# NOT the UTF-8 payload: a ~20-char java.lang.String is ~80 bytes
# (object header + char data in UTF-16 + the backing array header), and
# the map entry adds a boxed value + entry object + table slot — ~160
# bytes all-in. Undercounting here admits broadcasts the cap exists to
# prevent (the 256 MiB default gates at ~1.7M string-keyed nodes).
BROADCAST_ROW_BYTES = 160


def broadcast_path(nodes: DataFrame, flag=None) -> bool:
    """The iteration join's path: an explicit True/False wins; None
    counts ``nodes`` and gates count x BROADCAST_ROW_BYTES."""
    if flag is not None:
        return bool(flag)
    return broadcast_gate(nodes.sparkSession,
                          nodes.count() * BROADCAST_ROW_BYTES,
                          if_unknown=True)


def out_degrees(edges: DataFrame) -> DataFrame:
    """(src, _d) out-degree table — the shape pagerank consumes. Exposed
    so callers over an IMMUTABLE edge table can persist it once and pass
    it to every pagerank invocation (deg=...)."""
    return (edges.select("src", "dst").groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d")))


def node_set(edges: DataFrame) -> DataFrame:
    """(node) distinct endpoint table — consumable by pagerank/
    label_propagation via nodes=... under the same persist-once
    contract as out_degrees."""
    e = edges.select("src", "dst")
    return (e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct())


def _loop_inputs(edges: DataFrame, nodes, flag):
    """(e, nodes, broadcast, cached) for an iteration loop: the (src,
    dst) edge table and the node set, the broadcast decision
    (broadcast_path) and the frames persisted here. A caller-passed node
    set is caller-owned: not re-persisted, not released here."""
    e = edges.select("src", "dst")
    cached = []
    # skip the re-persist when the caller already caches the edge table
    # (the registry's shared _trade_edges does): a second materialized
    # copy of the same 1.17M rows buys nothing and costs a full pass +
    # executor memory per invocation
    if not edges.is_cached:
        e = e.persist()
        cached.append(e)
    if nodes is None:
        nodes = node_set(e).persist()
        cached.append(nodes)
    return e, nodes, broadcast_path(nodes, flag), cached


def _releaser(frames: list):
    """rm_release_cache for a loop result: unpersist what it persisted."""
    def release():
        for f in frames:
            f.unpersist()
    return release


def pagerank(edges: DataFrame, iters: int = 3,
             damping_pct: int = 85,
             broadcast_ranks=None,
             deg: DataFrame = None, nodes: DataFrame = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (src, dst) —
    pass both directions for an undirected graph. Returns (node, rank)
    with rank a BIGINT scaled by 1e12 (initial rank 1.0 per node; the
    classic r = (1-d) + d * sum(r_in/deg_out) formulation, nodes with
    edges only).

    broadcast_ranks=True broadcasts the (node, rank) and degree tables
    into the per-iteration edge join — each iteration is then a MAP-ONLY
    pass over the edges plus one small aggregate, no edge shuffle.
    Right for |nodes| << |edges| (the common web/trade-graph shape).
    False keeps ranks partitioned (pre-partition edges and ranks on src
    so the iteration join is co-located). The default None AUTO-selects
    from the node count (broadcast_path: count x BROADCAST_ROW_BYTES vs
    rm.broadcastMaxBytes — one count job over the node set per call);
    the chosen path is exposed as ``result.rm_broadcast_path``. With
    iters=0 no join runs, so nothing is decided: the flag is reported
    as given (None included) and construction runs no job."""
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in (1, 99)")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if iters == 0:
        # iters=0 means "no propagation": the initial uniform rank of 1.0
        # per node, exactly what the unfused loop returned. Reachable from
        # the user-facing $pageRank builtin with arbitrary iters, so this
        # must not fall through to the loop (sums would stay unbound).
        nodes0 = nodes if nodes is not None else node_set(edges)
        out = nodes0.select("node", F.lit(SCALE).cast("long").alias("rank"))
        out.rm_release_cache = lambda: None
        out.rm_broadcast_path = broadcast_ranks
        return out
    # LAZY persists break the O(iters^2) lineage blowup: without them,
    # iteration i's plan re-executes every earlier iteration AND the
    # caller's (possibly expensive) edge derivation once per reference —
    # measured 8.7s -> ~3s at sf0.1 with 3 iterations. No action is
    # triggered here (construction stays job-free); each cache fills on
    # the first action that uses it. rm_release_cache on the result
    # unpersists everything.
    e, nodes, broadcast_ranks, cached = _loop_inputs(edges, nodes,
                                                     broadcast_ranks)
    # deg, like nodes, is a pure function of the edge table; callers
    # over an IMMUTABLE edge set (the registry's cached trade graph)
    # persist it once (out_degrees) and pass it in — re-deriving a full
    # edge-table aggregate per invocation is pure waste. A passed deg is
    # caller-owned: not re-persisted, not released here.
    if deg is None:
        deg = out_degrees(e).persist()
        cached.append(deg)
    base = ((100 - damping_pct) * SCALE) // 100
    # Iteration state is rd = (src, rank div out-degree) — the ONLY thing
    # the edge pass needs — not the rank table itself. rank_next is an
    # expression of the previous contribution sums (rank = base +
    # d*coalesce(s,0) div 100), so rd_next folds that expression into one
    # small deg⋈sums join instead of materializing ranks and re-joining
    # deg; full (node, rank) is assembled ONCE at the end. This drops a
    # small-table join + broadcast barrier per iteration (three blocking
    # broadcast builds -> two — on a 1000-executor cluster each barrier
    # is a driver round-trip on the critical path) and persists a 16k-row
    # sums frame per iteration instead of a ranks frame (same size, one
    # fewer cache fill). Bit-identical to the unfused loop (integer
    # arithmetic; asserted by the stress equivalence test and the DuckDB
    # oracle, whose SQL is the unfused formulation).
    rank_expr = (f"(({base} + ({damping_pct} * coalesce(_s, 0)) div 100))"
                 f" div _d")
    rd = deg.select("src", F.expr(f"{SCALE} div _d").alias("_rc"))
    sums = None
    for i in range(iters):
        r_in = F.broadcast(rd) if broadcast_ranks else rd
        contrib = (e.join(r_in, "src")
                   .select(F.col("dst").alias("node"),
                           F.col("_rc").alias("_c")))
        # map-side partial sums -> node-sized exchange; persist bounds
        # the lineage (the O(iters^2) blowup the docstring describes)
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_s")).persist()
        cached.append(sums)
        if i < iters - 1:
            s_in = F.broadcast(sums) if broadcast_ranks else sums
            rd = (deg.join(s_in, deg.src == F.col("node"), "left")
                  .select("src", F.expr(rank_expr).alias("_rc")))
    s_fin = F.broadcast(sums) if broadcast_ranks else sums
    ranks = (nodes.join(s_fin, "node", "left")
             .select("node",
                     (F.lit(base)
                      + F.expr(f"({damping_pct} * coalesce(_s, 0)) "
                               f"div 100")).cast("long").alias("rank")))
    ranks.rm_release_cache = _releaser(cached)
    ranks.rm_broadcast_path = broadcast_ranks
    return ranks


def label_propagation(edges: DataFrame, iters: int = 2,
                      broadcast_labels=None,
                      nodes: DataFrame = None) -> DataFrame:
    """Synchronous label propagation for community detection, made
    DETERMINISTIC (the classic algorithm's random tie-break makes runs
    incomparable): every node starts with its own label; each iteration
    it adopts the most frequent label among in-neighbors, ties broken by
    the SMALLEST label; isolated-in nodes keep their label. Fixed
    iterations, engine-exact — the same reproducibility contract as the
    scaled-integer PageRank above.

    Per iteration: one broadcast of the (node, label) table into a
    map-only edge pass, a (dst, label) count aggregate with map-side
    partials, and a min-struct argmax — the label table is node-sized
    (broadcast_labels contract; False pre-partitions instead when the
    node set itself is huge; the default None auto-selects from the node
    count exactly like pagerank, exposed as ``result.rm_broadcast_path``).
    Lazy persists
    bound the lineage. Returns (node, label).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e, nodes, broadcast_labels, cached = _loop_inputs(edges, nodes,
                                                      broadcast_labels)
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(iters):
        lab = labels.select(F.col("node").alias("src"), "label")
        l_in = F.broadcast(lab) if broadcast_labels else lab
        # ONE exchange for both aggregates: hash-partitioning the joined
        # edge stream on dst satisfies ClusteredDistribution for BOTH the
        # (dst, label) count and the per-dst argmax (subset rule), so
        # neither groupBy re-shuffles — measured 2 full-volume exchanges
        # -> 1 per iteration (iteration 1's (dst, label) partials don't
        # reduce at all: with self-labels every edge is a distinct pair)
        votes = (e.join(l_in, "src")
                 .repartition(F.col("dst"))
                 .groupBy(F.col("dst").alias("node"), "label")
                 .agg(F.count(F.lit(1)).alias("_c")))
        # deterministic argmax: highest count, then SMALLEST label —
        # expressed as min over (-count, label)
        best = (votes.groupBy("node")
                .agg(F.min(F.struct((-F.col("_c")).alias("nc"),
                                    F.col("label").alias("l")))
                     .alias("_b"))
                .select("node", F.col("_b.l").alias("_new")))
        upd = F.broadcast(best) if broadcast_labels else best
        labels = (labels.join(upd, "node", "left")
                  .select("node", F.coalesce("_new", "label")
                          .alias("label")))
        if i < iters - 1:
            labels = labels.persist()
            cached.append(labels)

    labels.rm_release_cache = _releaser(cached)
    labels.rm_broadcast_path = broadcast_labels
    return labels
