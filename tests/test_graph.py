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
    rel = getattr(out, "rm_release_cache", None); rel and rel()
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
        rel = getattr(out, "rm_release_cache", None); rel and rel()
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


def test_graph_auto_selects_broadcast_path(spark):
    from radmapper_spark.operators import graph
    e = _toy_edges(spark)
    pr = graph.pagerank(e, iters=2)
    assert pr.rm_broadcast_path is True
    pr.rm_release_cache()
    lp = graph.label_propagation(e, iters=1)
    assert lp.rm_broadcast_path is True
    lp.rm_release_cache()


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
        pr.rm_release_cache()
        lp = graph.label_propagation(e, iters=1)
        assert lp.rm_broadcast_path is False
        lp.rm_release_cache()
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
        pr.rm_release_cache()
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")
