"""Graph operators: PageRank, label propagation, broadcast/co-partition auto-select (operators/graph.py).

Consolidated from the per-round test files (r14 governance pass) — test bodies unchanged."""

from __future__ import annotations

import hashlib
import math
import random
import pytest
from pyspark.sql import functions as F
from radmapper_spark.operators import behavior, chunking, similarity, temporal
from radmapper_spark.operators import textstats
import os
import subprocess
import sys
import json
import time
import __spark_entry__ as entrymod
from radmapper_spark.operators import lm
from tests.conftest import SF_SMOKE
from tests.oracle import assert_matches_oracle, duck_conn
from radmapper_spark.operators import chunking, dedup, graph
from radmapper_spark.operators import multimodal as mm
from radmapper_spark.operators import tokenizer as tk

# ======================== from test_round6b.py ========
def test_label_propagation_two_triangles(spark):
    """Two disjoint triangles converge to per-triangle min labels."""
    from radmapper_spark.operators import graph
    tri = [("a", "b"), ("b", "c"), ("c", "a"),
           ("x", "y"), ("y", "z"), ("z", "x")]
    edges = tri + [(b, a) for a, b in tri]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = graph.label_propagation(df, iters=4)
    got = {r.node: r.label for r in out.collect()}
    assert {got["a"], got["b"], got["c"]} == {got["a"]}
    assert {got["x"], got["y"], got["z"]} == {got["x"]}
    assert got["a"] != got["x"]


def test_label_propagation_deterministic_tie(spark):
    """A node with two equally-frequent neighbor labels adopts the
    SMALLEST — twice, identically."""
    from radmapper_spark.operators import graph
    edges = [("a", "m"), ("b", "m")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def run():
        out = graph.label_propagation(df, iters=1)
        got = {r.node: r.label for r in out.collect()}
        return got

    g1, g2 = run(), run()
    assert g1 == g2
    assert g1["m"] == "a"  # min of {a, b}


# ======================== from test_round8.py (r14 consolidation) ========
def _toy_edges(spark):
    pairs = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (2, 5)]
    both = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(both, "src long, dst long")


def test_pagerank_iters_zero_returns_initial_ranks(spark):
    from radmapper_spark.operators import graph
    pr = graph.pagerank(_toy_edges(spark), iters=0)
    rows = pr.collect()
    assert len(rows) == 6
    assert all(r.rank == graph.SCALE for r in rows)


def test_pagerank_iters_zero_builds_without_jobs(spark):
    """iters=0 runs no join, so construction decides no broadcast path:
    no node count, no Spark job, and the flag is reported as given."""
    from radmapper_spark.operators import graph
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0), (2, 3)],
                              "src long, dst long")
    sc = spark.sparkContext
    sc.setJobGroup("pagerank_iters0", "pagerank_iters0")
    try:
        pr = graph.pagerank(e, iters=0)
        pr_bc = graph.pagerank(e, iters=0, broadcast_ranks=True)
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("pagerank_iters0") == []
    assert pr.rm_broadcast_path is None
    assert pr_bc.rm_broadcast_path is True
    assert pr.count() == 4


def test_graph_auto_selects_broadcast_path(spark):
    from radmapper_spark.operators import graph
    e = _toy_edges(spark)
    pr = graph.pagerank(e, iters=2)
    assert pr.rm_broadcast_path is True
    lp = graph.label_propagation(e, iters=1)
    assert lp.rm_broadcast_path is True


def test_graph_auto_selects_partitioned_above_threshold(spark, tmp_path):
    """Above rm.broadcastMaxBytes the default path must go
    co-partitioned — and stay bit-identical to the broadcast path.
    Edges come from parquet so the optimizer has REAL size stats (local
    relations carry the no-stats sentinel, which auto-resolves to
    broadcast)."""
    from radmapper_spark.operators import graph
    _toy_edges(spark).write.parquet(str(tmp_path / "edges"))
    e = spark.read.parquet(str(tmp_path / "edges"))
    base = {(r.node, r.rank) for r in graph.pagerank(
        e, iters=2, broadcast_ranks=True).collect()}
    spark.conf.set("rm.broadcastMaxBytes", "1")
    try:
        pr = graph.pagerank(e, iters=2)
        assert pr.rm_broadcast_path is False
        assert {(r.node, r.rank) for r in pr.collect()} == base
        lp = graph.label_propagation(e, iters=1)
        assert lp.rm_broadcast_path is False
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")


# ======================== from test_round9.py (r14 consolidation) ========
def _toy_edges_r9(spark):
    pairs = [(i, (i + 1) % 6) for i in range(6)] + [(0, 3), (2, 5)]
    both = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(both, "src long, dst long")


def test_pagerank_negative_iters_raises(spark):
    from radmapper_spark.operators import graph
    with pytest.raises(ValueError, match="iters"):
        graph.pagerank(_toy_edges_r9(spark), iters=-1)


def test_label_propagation_negative_iters_raises(spark):
    from radmapper_spark.operators import graph
    with pytest.raises(ValueError, match="iters"):
        graph.label_propagation(_toy_edges_r9(spark), iters=-3)


def test_graph_auto_broadcasts_small_nodes_on_large_edge_scan(spark, tmp_path):
    """The |nodes| << |edges| shape the broadcast path exists for: a
    20k-row parquet edge table over 50 nodes. Catalyst's size-only
    stats propagate roughly the edge-scan size through the node-set
    distinct (no aggregate-reduction modeling), so a sizeInBytes-based
    auto gate would refuse to broadcast here; the node-COUNT heuristic
    (50 * BROADCAST_ROW_BYTES = 8 KB vs a 16 KB cap) must pick the
    broadcast path."""
    from radmapper_spark.operators import graph
    rng = random.Random(11)
    rows = [(rng.randrange(50), rng.randrange(50)) for _ in range(20000)]
    spark.createDataFrame(rows, "src long, dst long") \
        .write.mode("overwrite").parquet(str(tmp_path / "bige"))
    e = spark.read.parquet(str(tmp_path / "bige"))
    # sanity: the edge SCAN estimate really is above the cap we set, so
    # a size-propagating gate would have gone partitioned
    from radmapper_spark.operators.plan_stats import est_plan_bytes
    assert est_plan_bytes(e) > 16384
    spark.conf.set("rm.broadcastMaxBytes", "16384")
    try:
        pr = graph.pagerank(e, iters=1)
        assert pr.rm_broadcast_path is True
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")


# ============ driver path vs both Spark loops (one gate, three paths) ====
# string ids whose byte order differs from their numeric order (c10 <
# c9), a repeated edge (q -> a, which wins a its label by count), nodes
# with no in-edges (p, q) and label-count ties (x hears c9 and c10 once
# each; m hears a and b once each)
_STR_EDGES = [("c9", "x"), ("c10", "x"), ("a", "m"), ("b", "m"),
              ("b", "a"), ("m", "b"), ("x", "c9"), ("p", "c10"),
              ("q", "a"), ("q", "a"), ("c10", "c9"), ("x", "a")]
_LONG_EDGES = [(2 ** 62, -5), (-5, 2 ** 62), (7, -5), (7, 2 ** 40),
               (2 ** 40, 7), (2 ** 40, 7), (-(2 ** 50), 7), (9, 7),
               (9, 2 ** 62)]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _three_paths(op, edges, iters):
    """(driver rows, broadcast-loop rows, partitioned-loop rows)."""
    flag = ("broadcast_ranks" if op is graph.pagerank
            else "broadcast_labels")
    auto = op(edges, iters=iters)
    assert auto.rm_graph_path == "driver"
    bc = op(edges, iters=iters, **{flag: True})
    part = op(edges, iters=iters, **{flag: False})
    assert (bc.rm_graph_path, part.rm_graph_path) == ("broadcast",
                                                     "partitioned")
    return _rows(auto), _rows(bc), _rows(part)


@pytest.mark.parametrize("ddl,edges", [
    ("src string, dst string", _STR_EDGES),
    ("src long, dst long", _LONG_EDGES),
], ids=["string", "long"])
def test_driver_path_equals_spark_loops(spark, ddl, edges):
    """The numpy kernels apply the Spark loops' integer semantics:
    equal rows for pagerank (iters 1-3) and label propagation (iters
    1-2) on all three paths."""
    e = spark.createDataFrame(edges, ddl)
    for iters in (1, 2, 3):
        d, b, p = _three_paths(graph.pagerank, e, iters)
        assert d == b == p, f"pagerank iters={iters}"
    for iters in (1, 2):
        d, b, p = _three_paths(graph.label_propagation, e, iters)
        assert d == b == p, f"label_propagation iters={iters}"


def test_driver_label_ties_break_on_byte_order(spark):
    """Ties go to the SMALLEST id in the node column's Spark order: for
    strings that is byte order, so x adopts c10 over c9."""
    e = spark.createDataFrame(_STR_EDGES, "src string, dst string")
    lp = graph.label_propagation(e, iters=1)
    assert lp.rm_graph_path == "driver"
    got = dict(_rows(lp))
    assert got["x"] == "c10" and got["m"] == "a"
    assert got["a"] == "q"  # the repeated edge counts twice
    assert got["p"] == "p"  # no in-edges: keeps its own label


def test_driver_path_null_endpoint(spark):
    """A NULL endpoint: every path gives the same rows (the NULL node
    keeps its base rank / NULL label and never passes a vote on)."""
    e = spark.createDataFrame(_STR_EDGES + [("a", None), (None, "b")],
                              "src string, dst string")
    for op, iters in ((graph.pagerank, 2), (graph.label_propagation, 2)):
        d, b, p = _three_paths(op, e, iters)
        assert d == b == p
        assert any(r[0] is None for r in d)


def test_driver_pagerank_sums_exact_above_2_53(spark):
    """30,001 sources of out-degree 3 feed one hub: its contribution sum
    (30001 x (10^12 div 3) ~ 1e16, odd) is past 2^53, where a float64
    sum loses the low bits (pairwise or sequential). The driver path
    must equal the Spark loop."""
    e = (spark.range(30001)
         .select(F.col("id").alias("src"),
                 F.explode(F.array(*(F.lit(-k).cast("long")
                                     for k in (1, 2, 3)))).alias("dst")))
    auto = graph.pagerank(e, iters=1)
    assert auto.rm_graph_path == "driver"
    d = dict(_rows(auto))
    b = dict(_rows(graph.pagerank(e, iters=1, broadcast_ranks=True)))
    assert d[-1] > 85 * 2 ** 53 // 100 and d == b


def test_driver_gate_sides(spark):
    """The driver estimate (graph.driver_bytes) passes at exactly
    rm.broadcastMaxBytes; one byte below it, auto picks a Spark loop
    (here the broadcast one: the node table alone still fits), with the
    same rows."""
    e = spark.createDataFrame(_STR_EDGES, "src string, dst string")
    n_nodes = len({x for ed in _STR_EDGES for x in ed})
    est = graph.driver_bytes(n_nodes, len(_STR_EDGES))
    base = _rows(graph.pagerank(e, iters=2, broadcast_ranks=False))
    try:
        for cap, path in ((est, "driver"), (est - 1, "broadcast"),
                          (n_nodes * graph.BROADCAST_ROW_BYTES, "broadcast")):
            spark.conf.set("rm.broadcastMaxBytes", str(cap))
            for op in (graph.pagerank, graph.label_propagation):
                out = op(e, iters=2)
                assert out.rm_graph_path == path, (cap, op.__name__)
                assert out.rm_broadcast_path is True
                rows = _rows(out)
                if op is graph.pagerank:
                    assert rows == base
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")


def test_local_graph_rejects_flags_and_codes_in_spark_order(spark):
    e = spark.createDataFrame(_STR_EDGES, "src string, dst string")
    g = graph.local_graph(e)
    assert g.ids.to_pylist() == sorted(g.ids.to_pylist(),
                                       key=lambda s: s.encode())
    assert g.ids.to_pylist().index("c10") < g.ids.to_pylist().index("c9")
    with pytest.raises(ValueError, match="LocalGraph"):
        graph.pagerank(g, iters=1, broadcast_ranks=True)
    assert graph.pagerank(g, iters=1).rm_graph_path == "driver"


def test_trade_graph_repeat_build_runs_no_job(spark):
    """The trade graph's memo holds a LocalGraph at the fixture SFs, so
    a repeat build of either graph entry runs no Spark job and persists
    no frame."""
    from radmapper_spark import entrypoints as E
    from radmapper_spark.session import memo_stats

    sc = spark.sparkContext
    E.graph_pagerank(spark, SF_SMOKE)  # the memo build
    g, bc = E._trade_edges(spark, SF_SMOKE)
    assert isinstance(g["edges"], graph.LocalGraph) and bc is None
    hits = memo_stats()["edges"]["hits"]
    persisted = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup("graph_repeat", "graph_repeat")
    try:
        dfs = [E.graph_pagerank(spark, SF_SMOKE),
               E.graph_communities(spark, SF_SMOKE)]
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("graph_repeat") == []
    assert memo_stats()["edges"]["hits"] == hits + 2
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert all(len(df.collect()) > 0 for df in dfs)


@pytest.mark.parametrize("cap,path", [(None, "driver"), ("1", "partitioned")])
def test_components_scope_releases_every_checkpoint(spark, cap, path):
    """connected_components on both sides of its gate leaves no
    persisted RDD once its scope is released. The driver path frees its
    edge checkpoint as soon as local_graph has collected it; the star
    loop (forced by a 1-byte rm.broadcastMaxBytes) frees each round's
    checkpoint once the next one is materialized, so the scope holds
    only the last round's."""
    from radmapper_spark.session import scope
    from tests.conftest import persisted_rdd_ids

    # a 24-node path plus a triangle: several star rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(24)] + [(100, 101), (101, 102),
                                           (100, 102)],
        "id_a long, id_b long")
    before = persisted_rdd_ids(spark)
    try:
        if cap is not None:
            spark.conf.set("rm.broadcastMaxBytes", cap)
        with scope():
            out = graph.connected_components(pairs)
            held = persisted_rdd_ids(spark) - before
            rows = dict(_rows(out))
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")
    assert out.rm_graph_path == path
    assert len(held) == (0 if path == "driver" else 1)
    assert rows == {**{i: 0 for i in range(25)},
                    **{i: 100 for i in (100, 101, 102)}}
    assert persisted_rdd_ids(spark) - before == set()
