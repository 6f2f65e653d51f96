"""Fixed-shape graph algorithms: fixed-iteration PageRank, label
propagation and connected components, each with its paths chosen by ONE
gate.

PageRank here runs in SCALED-INTEGER arithmetic (ranks are BIGINTs scaled
by 1e12; contributions use integer division): every operation is exact
and order-independent, so the result is bit-identical at any parallelism
AND reproducible by any other engine — the property float PageRank can
never have (double summation is partition-order dependent). The rounding
the integer division introduces is the same rounding a fixed-point HW
implementation makes; for ranking purposes it is far below rank gaps.
Label propagation is made deterministic the same way (min-label
tie-break), and a component is labeled by its minimum id, so every path
returns the same rows.

Paths (``result.rm_graph_path``), all under plan_stats.broadcast_gate
(rm.broadcastMaxBytes):

- "driver": when the whole graph fits the gate (``driver_bytes``), the
  edge table is collected once as Arrow (a bounded collect) into
  int-coded numpy arrays (``LocalGraph``) and the algorithm runs on the
  driver (numpy iterations, or a union-find for components); the
  (node, value) result is one Arrow-built frame (a LocalTableScan). No
  per-iteration job, exchange or persist.
- "broadcast" (PageRank, label propagation): the per-iteration
  (node, value) table is broadcast into a map-only edge pass — for
  |nodes| << |edges| graphs too big to collect.
- "partitioned": the per-node state stays partitioned and each
  iteration join shuffles — for node sets too big to broadcast; for
  components, the large-star/small-star loop.

Spark-loop scale shape per iteration: one join of edges⋈ranks on src,
one groupBy(dst) with map-side partial sums. Fixed iterations -> lineage
is bounded; for many iterations checkpoint every ~5 to cut the plan.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import persist, release
from .plan_stats import broadcast_cap, broadcast_gate

SCALE = 10 ** 12
_INT64_MAX = 2 ** 63 - 1

# Spark-loop path selection: the per-iteration rank/label table is
# broadcast while the NODE COUNT times a fixed per-row width passes the
# gate; above it the loop keeps the table partitioned so the iteration
# join shuffles instead of shipping an executor-crushing broadcast. Both
# Spark loops are bit-identical (integer arithmetic; proven by the
# scale-stress equivalence tests), so the choice is purely physical.
# Catalyst sizeInBytes is deliberately NOT the input: size-only stats
# don't model the distinct/aggregate reduction, so a node set distilled
# from a large edge table inherits roughly the edge-scan size and the
# gate would never broadcast on exactly the |nodes| << |edges| graphs
# broadcast is for. The count is one aggregate per call; callers over
# an immutable graph decide once and pass the decision in (the
# registry's trade graph does, inside its fingerprint-checked memo
# build).
# Conservative bytes per broadcast (node, rank/label) row. The JVM-side
# footprint of a broadcast hash relation entry for a string-keyed row is
# NOT the UTF-8 payload: a ~20-char java.lang.String is ~80 bytes
# (object header + char data in UTF-16 + the backing array header), and
# the map entry adds a boxed value + entry object + table slot — ~160
# bytes all-in. Undercounting here admits broadcasts the cap exists to
# prevent (the 256 MiB default gates at ~1.7M string-keyed nodes).
BROADCAST_ROW_BYTES = 160
# Driver-path bytes per EDGE, on top of BROADCAST_ROW_BYTES per node
# (driver_bytes). Measured over a 1M-edge / 100k-node graph of 8-char
# string ids (tracemalloc for numpy, the Arrow pool's high-water mark):
# the bounded collect peaks at ~89 B/edge (the Arrow table and its
# src+dst concatenation, 48; index_in codes widened to the two int64
# code arrays, 41), and the LocalGraph then holds 16 B/edge. Label
# propagation's iteration peaks ~101 B/edge above that (int64 pair
# keys, np.unique's sort copy, counts, the (dst, label) split), PageRank
# ~38, the components union-find ~84 (tracemalloc: the two Python int
# lists of the codes; its parent list is per node). The JVM buffers the
# collected Arrow batches too (24 B/edge payload). Worst case ~141
# B/edge, rounded up: the 256 MiB default admits ~1.7M edges, the trade
# graph at sf0.1 (~1M edges) included.
DRIVER_EDGE_BYTES = 160
# Round cap of the large-star/small-star loop: it converges in
# O(log^2 n) rounds, so 25 covers any graph a cluster holds.
CC_MAX_ROUNDS = 25
_DRIVER_TYPES = (T.StringType, T.LongType, T.IntegerType, T.ShortType,
                 T.ByteType)


def driver_bytes(n_nodes: int, n_edges: int) -> int:
    """The driver path's gate estimate for a graph of this size."""
    return n_nodes * BROADCAST_ROW_BYTES + n_edges * DRIVER_EDGE_BYTES


def broadcast_path(nodes: DataFrame, flag=None) -> bool:
    """The Spark loop's iteration-join path: an explicit True/False
    wins; None counts ``nodes`` and gates count x BROADCAST_ROW_BYTES."""
    if flag is not None:
        return bool(flag)
    return broadcast_gate(nodes.sparkSession,
                          nodes.count() * BROADCAST_ROW_BYTES,
                          if_unknown=True)


class LocalGraph(NamedTuple):
    """A directed edge list held on the driver, int-coded: node i is
    ``ids[i]``, and ``ids`` is in the Spark sort order of the node
    column (byte order for strings), so comparing codes is comparing
    node ids. ``src``/``dst`` are int64 codes, -1 for a NULL endpoint."""
    spark: SparkSession
    node_type: T.DataType
    ids: object         # pyarrow.Array of the distinct non-NULL ids
    src: np.ndarray
    dst: np.ndarray
    has_null: bool      # some endpoint is NULL: a NULL node exists


def local_graph(edges: DataFrame):
    """Collect ``edges`` (src, dst) as a LocalGraph when the whole graph
    passes the gate (driver_bytes vs rm.broadcastMaxBytes), else None.
    One Spark job: the collect is capped at the edge count the gate
    could admit, so an oversized graph is never pulled whole. None too
    when src/dst differ in type or are not string/integral."""
    import pyarrow as pa
    import pyarrow.compute as pc

    e = edges.select("src", "dst")
    ts = {type(f.dataType) for f in e.schema.fields}
    if len(ts) != 1 or not issubclass(ts.pop(), _DRIVER_TYPES):
        return None
    spark = edges.sparkSession
    max_edges = broadcast_cap(spark) // DRIVER_EDGE_BYTES
    t = e.limit(max_edges + 1).toArrow()
    if t.num_rows > max_edges:
        return None
    both = pa.concat_arrays([t.column("src").combine_chunks(),
                             t.column("dst").combine_chunks()])
    ids = pc.unique(both.drop_null())
    ids = ids.take(pc.sort_indices(ids))
    if not broadcast_gate(spark, driver_bytes(len(ids), t.num_rows),
                          if_unknown=False):
        return None
    codes = pc.index_in(both, value_set=ids).fill_null(-1)
    codes = codes.to_numpy(zero_copy_only=False).astype(np.int64)
    m = t.num_rows
    return LocalGraph(spark, e.schema.fields[0].dataType, ids, codes[:m],
                      codes[m:], both.null_count > 0)


def _local_frame(g: LocalGraph, name: str, col, dtype, null_value):
    """The (node, <name>) result as an Arrow-built frame (LocalTableScan):
    one row per node, plus the NULL node's row when there is one."""
    import pyarrow as pa

    node, val = g.ids, col
    if g.has_null:
        node = pa.concat_arrays([node, pa.nulls(1, node.type)])
        val = pa.concat_arrays([val, pa.array([null_value], val.type)])
    schema = T.StructType([T.StructField("node", g.node_type),
                           T.StructField(name, dtype)])
    return g.spark.createDataFrame(pa.table([node, val], ["node", name]),
                                   schema)


def _segments(keys: np.ndarray) -> np.ndarray:
    """Start offsets of the runs of equal values in sorted ``keys``."""
    return np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]]) \
        if len(keys) else np.zeros(0, np.int64)


def _pagerank_local(g: LocalGraph, iters: int, damping_pct: int):
    """The Spark loop's integer PageRank over a LocalGraph. Every sum is
    an int64 reduceat (exact); a contribution sum whose damped product
    overflows BIGINT raises, as Spark's ANSI arithmetic does."""
    import pyarrow as pa

    n = len(g.ids)
    out = g.src >= 0           # a NULL dst still counts in the out-degree
    deg = np.bincount(g.src[out], minlength=n)  # unweighted: int64 counts
    live = out & (g.dst >= 0)  # a NULL endpoint never joins
    order = np.argsort(g.dst[live], kind="stable")
    src, dst = g.src[live][order], g.dst[live][order]
    heads = _segments(dst)
    base = ((100 - damping_pct) * SCALE) // 100
    has = deg > 0
    rc = np.zeros(n, np.int64)
    rc[has] = SCALE // deg[has]
    for i in range(iters):
        s = np.zeros(n, np.int64)
        if len(heads):
            s[dst[heads]] = np.add.reduceat(rc[src], heads)
        if s.max(initial=0) > _INT64_MAX // damping_pct:
            raise OverflowError("pagerank: damped contribution sum "
                                "overflows BIGINT")
        if i < iters - 1:
            rc[has] = (base + (damping_pct * s[has]) // 100) // deg[has]
    rank = base + (damping_pct * s) // 100 if iters else \
        np.full(n, SCALE, np.int64)
    return _local_frame(g, "rank", pa.array(rank, pa.int64()), T.LongType(),
                        base if iters else SCALE)


def _label_propagation_local(g: LocalGraph, iters: int):
    """The Spark loop's label propagation over a LocalGraph: per
    iteration, count (dst, src label) votes, keep per dst the highest
    count and, among those, the smallest label code (= smallest id)."""
    n = len(g.ids)
    live = (g.src >= 0) & (g.dst >= 0)
    src, dst = g.src[live], g.dst[live]
    label = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        keys, cnt = np.unique(dst * n + label[src], return_counts=True)
        node, lab = keys // n, keys % n     # sorted by (node, label)
        heads = _segments(node)
        top = np.repeat(np.maximum.reduceat(cnt, heads),
                        np.diff(np.r_[heads, len(keys)])) \
            if len(heads) else cnt
        win = cnt == top
        node, lab = node[win], lab[win]
        first = _segments(node)             # smallest winning label
        label = label.copy()
        label[node[first]] = lab[first]
    return _local_frame(g, "label", g.ids.take(label), g.node_type, None)


def _components_local(g: LocalGraph):
    """Connected components over a LocalGraph: a union-find over the int
    codes (union by smaller code, path compression). Codes follow the
    node order, so every root is its component's minimum id."""
    import pyarrow as pa

    parent = list(range(len(g.ids)))

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(g.src.tolist(), g.dst.tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    root = pa.array([find(x) for x in range(len(parent))], pa.int64())
    return _local_frame(g, "component", g.ids.take(root), g.node_type, None)


def _driver_graph(edges, flag, *frames):
    """The LocalGraph the driver path runs on, or None for a Spark loop:
    a LocalGraph is used as given; a DataFrame is collected
    (local_graph) only when the caller left the path to auto-select
    (flag None) and passed no precomputed frames."""
    if isinstance(edges, LocalGraph):
        if flag is not None:
            raise ValueError("a LocalGraph always runs the driver path")
        return edges
    if flag is None and all(f is None for f in frames):
        return local_graph(edges)
    return None


def _tag(df: DataFrame, path: str) -> DataFrame:
    df.rm_graph_path = path
    df.rm_broadcast_path = path != "partitioned"
    return df


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
    """(e, nodes, broadcast) for an iteration loop: the (src, dst) edge
    table and the node set, persisted in the caller's scope, and the
    broadcast decision (broadcast_path). A caller-passed node set is
    caller-owned: not re-persisted here."""
    e = edges.select("src", "dst")
    # skip the re-persist when the caller already caches the edge table
    # (the registry's shared _trade_edges does): a second materialized
    # copy of the same 1.17M rows buys nothing and costs a full pass +
    # executor memory per invocation
    if not edges.is_cached:
        e = persist(e)
    if nodes is None:
        nodes = persist(node_set(e))
    return e, nodes, broadcast_path(nodes, flag)


def pagerank(edges, iters: int = 3,
             damping_pct: int = 85,
             broadcast_ranks=None,
             deg: DataFrame = None, nodes: DataFrame = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (src, dst) —
    pass both directions for an undirected graph. Returns (node, rank)
    with rank a BIGINT scaled by 1e12 (initial rank 1.0 per node; the
    classic r = (1-d) + d * sum(r_in/deg_out) formulation, nodes with
    edges only).

    Three paths, one gate (the module docstring), exposed as
    ``result.rm_graph_path``:
    - "driver": ``edges`` is a LocalGraph, or broadcast_ranks is None,
      no deg/nodes frames are passed and local_graph admits the graph
      (one bounded Arrow collect at construction); the iterations run
      in numpy with the same integer semantics;
    - broadcast_ranks=True ("broadcast") broadcasts the (node, rank)
      and degree tables into the per-iteration edge join — each
      iteration is then a MAP-ONLY pass over the edges plus one small
      aggregate, no edge shuffle. Right for |nodes| << |edges|;
    - broadcast_ranks=False ("partitioned") keeps ranks partitioned
      (pre-partition edges and ranks on src so the join is co-located).
    None falls back from the driver to broadcast_path (count x
    BROADCAST_ROW_BYTES vs rm.broadcastMaxBytes — one count job over
    the node set). ``result.rm_broadcast_path`` is False only on the
    partitioned path. With iters=0 over a DataFrame no join runs, so
    nothing is decided: rm_graph_path is None, rm_broadcast_path
    reports the flag as given (None included) and construction runs no
    job."""
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in (1, 99)")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if iters == 0 and not isinstance(edges, LocalGraph):
        # iters=0 means "no propagation": the initial uniform rank of 1.0
        # per node, exactly what the unfused loop returned. Reachable from
        # the user-facing $pageRank builtin with arbitrary iters, so this
        # must not fall through to the loop (sums would stay unbound).
        nodes0 = nodes if nodes is not None else node_set(edges)
        out = nodes0.select("node", F.lit(SCALE).cast("long").alias("rank"))
        out.rm_graph_path = None
        out.rm_broadcast_path = broadcast_ranks
        return out
    local = _driver_graph(edges, broadcast_ranks, deg, nodes)
    if local is not None:
        return _tag(_pagerank_local(local, iters, damping_pct), "driver")
    # LAZY persists break the O(iters^2) lineage blowup: without them,
    # iteration i's plan re-executes every earlier iteration AND the
    # caller's (possibly expensive) edge derivation once per reference —
    # measured 8.7s -> ~3s at sf0.1 with 3 iterations. No action is
    # triggered here (construction stays job-free); each cache fills on
    # the first action that uses it. The caller's scope releases them.
    e, nodes, broadcast_ranks = _loop_inputs(edges, nodes, broadcast_ranks)
    # deg, like nodes, is a pure function of the edge table; callers
    # over an IMMUTABLE edge set (the registry's cached trade graph)
    # persist it once (out_degrees) and pass it in — re-deriving a full
    # edge-table aggregate per invocation is pure waste. A passed deg is
    # caller-owned: not re-persisted here.
    if deg is None:
        deg = persist(out_degrees(e))
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
        sums = persist(contrib.groupBy("node").agg(F.sum("_c").alias("_s")))
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
    return _tag(ranks, "broadcast" if broadcast_ranks else "partitioned")


def label_propagation(edges, iters: int = 2,
                      broadcast_labels=None,
                      nodes: DataFrame = None) -> DataFrame:
    """Synchronous label propagation for community detection, made
    DETERMINISTIC (the classic algorithm's random tie-break makes runs
    incomparable): every node starts with its own label; each iteration
    it adopts the most frequent label among in-neighbors, ties broken by
    the SMALLEST label; isolated-in nodes keep their label. Fixed
    iterations, engine-exact — the same reproducibility contract as the
    scaled-integer PageRank above.

    The same three paths under the same gate as pagerank, exposed as
    ``result.rm_graph_path``: "driver" (a LocalGraph, or the auto
    default when local_graph admits the graph: numpy votes over int
    codes, whose order is the node order, so the min-label tie-break is
    an int compare), or a Spark loop picked by broadcast_labels. Per
    Spark iteration: one broadcast ("broadcast") or shuffled
    ("partitioned") join of the (node, label) table into the edge pass,
    a (dst, label) count aggregate with map-side partials, and a
    min-struct argmax. Lazy persists bound the lineage. Returns
    (node, label).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    local = _driver_graph(edges, broadcast_labels, nodes)
    if local is not None:
        return _tag(_label_propagation_local(local, iters), "driver")
    e, nodes, broadcast_labels = _loop_inputs(edges, nodes,
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
            labels = persist(labels)

    return _tag(labels, "broadcast" if broadcast_labels else "partitioned")


def connected_components(edges: DataFrame, nodes: DataFrame = None) -> DataFrame:
    """(node, component) labeling of an (id_a, id_b) pair frame,
    component = the MIN node id, in the ids' own type (the driver path
    takes string or integral ids; any other type runs the Spark loop):
    the step that turns near-dup PAIRS into dedup GROUPS. Self-loops and
    NULL-endpoint edges are dropped. One row per node of the remaining
    edges or, given ``nodes`` (a ``node`` column of the same type), per
    distinct node of it (isolated nodes label themselves).

    The canonical (max, min) distinct edge frame is checkpointed once;
    local_graph then picks ``result.rm_graph_path``: "driver" runs
    _components_local and frees the checkpoint at once (the labels are
    built from its Arrow collect), "partitioned" the alternating
    large-star / small-star loop (Kiveris et al., SoCC'14): O(log^2 n)
    rounds whatever the component diameter (min-label propagation needs
    diameter rounds), two (groupBy-min + equi-join) passes per round
    over ONE bigint of per-node state (a 10M-dup hub costs what a pair
    does), lineage cut per round by a checkpoint that frees the round
    before it, and the star-forest test (no root is a child) as the
    fixpoint. The last round's checkpoint belongs to the caller's scope.
    """
    e = (edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
         .filter(F.col("u") != F.col("v")))
    # canonical orientation (max, min): the small-star input shape
    e = persist(e.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v")).distinct(),
                checkpoint=True)
    local = local_graph(e.toDF("src", "dst"))
    if local is not None:
        release(e)
        labeled, path = _components_local(local), "driver"
    else:
        def _is_star_forest(df) -> bool:
            # fixpoint test: no root (v) is also a child (u) — directly the
            # semantic goal, no confirm round needed
            return (df.select("v").join(df.select(F.col("u").alias("v")),
                                        "v", "leftsemi").isEmpty())

        ckpt = e
        for _ in range(CC_MAX_ROUNDS):
            # LARGE-STAR: over the symmetric neighborhood, attach every
            # strictly-larger neighbor v of u to m = min(N(u) + {u})
            sym = e.unionByName(e.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
            mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                    .select("u", F.least("u", "mv").alias("m")))
            e = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
            # SMALL-STAR: edges oriented (u > v); attach u and all its
            # smaller neighbors to m = min(N(u)); nothing for v == m
            mins = e.groupBy("u").agg(F.min("v").alias("m"))
            e = persist(e.join(mins, "u")
                        .filter(F.col("v") != F.col("m"))
                        .select(F.col("v").alias("u"), F.col("m").alias("v"))
                        .unionByName(mins.select("u", F.col("m").alias("v")))
                        .select(F.greatest("u", "v").alias("u"),
                                F.least("u", "v").alias("v"))
                        .distinct(), checkpoint=True)
            release(ckpt)  # the round before is materialized into e
            ckpt = e
            if _is_star_forest(e):
                break
        # fixpoint edges are stars (node -> root): label both endpoints
        labeled = (e.select(F.col("u").alias("node"),
                            F.col("v").alias("component"))
                   .unionByName(e.select(F.col("v").alias("node"),
                                         F.col("v").alias("component")))
                   .groupBy("node").agg(F.min("component").alias("component")))
        path = "partitioned"
    if nodes is not None:
        allnodes = nodes.select("node").distinct()
        labeled = (allnodes.join(labeled, "node", "left")
                   .select("node", F.coalesce("component", "node")
                           .alias("component")))
    return _tag(labeled, path)
