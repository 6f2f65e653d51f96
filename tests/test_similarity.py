"""Embedding similarity: k-means, SemDeDup, OPQ (operators/similarity.py).

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

# ======================== from test_round6b.py ========
def test_kmeans_assign_matches_numpy(spark):
    import numpy as np
    rng = random.Random(60_004)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.cluster, r.dist_scaled)
           for r in similarity.kmeans_assign(df, k=5).collect()}
    cents = {i: np.array(v, dtype=np.float32).astype(np.float64)
             for i, v in vecs if i < 5}
    for i, v in vecs:
        x = np.array(v, dtype=np.float32).astype(np.float64)
        dists = {c: int(sum(math.floor(d * d * 1e9)
                            for d in (x - cv)))
                 for c, cv in cents.items()}
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))
        assert got[i] == best


def _lloyd_python(vecs, k, iters):
    import numpy as np
    sv = {i: [math.floor(float(np.float32(x)) * 1e6) for x in v]
          for i, v in vecs}
    cents = {i: list(sv[i]) for i, _ in vecs if i < k}
    assign = {}
    for it in range(iters):
        assign = {}
        for i, s in sv.items():
            best = min(((sum((a - b) * (a - b)
                             for a, b in zip(s, cv)), c)
                        for c, cv in cents.items()))
            assign[i] = (best[1], best[0])
        if it < iters - 1:
            new = {}
            for c in set(c for c, _ in assign.values()):
                members = [sv[i] for i, (ci, _) in assign.items()
                           if ci == c]
                new[c] = [math.floor(sum(col) / len(members))
                          for col in zip(*members)]
            cents = new
    return assign


def test_kmeans_lloyd_matches_python(spark):
    rng = random.Random(60_012)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(80)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>")
    out = similarity.kmeans_lloyd(df, k=6, iters=2)
    got = {r.vec_id: (r.cluster, r.dist_scaled) for r in out.collect()}
    want = _lloyd_python(vecs, k=6, iters=2)
    assert got == want


def test_kmeans_lloyd_improves_distortion(spark):
    rng = random.Random(60_013)
    vecs = [(i, [rng.gauss(i % 4, 0.1) for _ in range(8)])
            for i in range(100)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>")

    def distortion(iters):
        out = similarity.kmeans_lloyd(df, k=4, iters=iters)
        tot = sum(r.dist_scaled for r in out.collect())
        return tot

    d1, d2 = distortion(1), distortion(2)
    # Lloyd monotonicity (up to integer-floor centroid rounding slack)
    assert d2 <= d1 * 1.001


# ======================== from test_round8.py (r14 consolidation) ========
SF_SMOKE = "/root/testdata/sf0.001"


def _tiny_emb(spark, ids=None):
    import random
    rng = random.Random(7)
    ids = ids if ids is not None else list(range(30))
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_within_cluster_only(spark):
    """Pairs must come from the SAME cluster (the SemDeDup contract),
    and the pair set must equal the brute-force within-cluster truth."""
    from radmapper_spark.operators import similarity
    from radmapper_spark.session import load_tables
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    pairs = similarity.semantic_dedup_pairs(emb, k=4, iters=1,
                                            threshold=0.4)
    rows = pairs.collect()
    asg = similarity.kmeans_lloyd(emb, k=4, iters=1)
    cl = {r.vec_id: r.cluster for r in asg.collect()}
    assert rows, "vacuous"
    for r in rows:
        assert cl[r.id_a] == cl[r.id_b] == r.cluster
    # brute-force truth restricted to co-clustered pairs
    import numpy as np
    vecs = {r.vec_id: np.array(r.embedding, dtype=float)
            for r in emb.collect()}
    want = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if cl[a] != cl[b]:
                continue
            c = float(vecs[a] @ vecs[b]
                      / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))
            if round(c, 6) >= 0.4:
                want.add((a, b))
    assert {(r.id_a, r.id_b) for r in rows} == want


def test_semantic_dedup_dirty_embeddings_dropped(spark):
    """NULL or wrong-dimension embeddings must be DROPPED by the shared
    pair-cosine kernel: it must not crash on the ragged batch, and the
    pairs it keeps must equal a numpy brute force over the clean rows."""
    import numpy as np
    from radmapper_spark.operators import similarity
    clean = _tiny_emb(spark)
    dirty = clean.unionByName(spark.createDataFrame(
        [(100, None), (101, [1.0, 2.0])],  # NULL + wrong dim (8 expected)
        "vec_id long, embedding array<double>"))
    # hand-built single-cluster assignment so the dirty ids are
    # guaranteed to reach the pair-verify kernel (the thing under test)
    asg = dirty.selectExpr("vec_id", "CAST(0 AS BIGINT) AS cluster")
    df = similarity.semantic_dedup_pairs(dirty, threshold=0.0, asg=asg)
    got = {(r.id_a, r.id_b): r.cosine for r in df.collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=float)
            for r in clean.collect()}
    want = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va, vb = vecs[a], vecs[b]
            c = float(va @ vb / (np.sqrt(va @ va) * np.sqrt(vb @ vb)))
            if c >= 0.0:
                want[(a, b)] = c
    assert want, "vacuous"
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in want)
    bad = {100, 101}
    assert not any(a in bad or b in bad for a, b in got)


def test_semantic_dedup_builtin(spark, tables):
    from radmapper_spark.lang.interp import Interp
    ip = Interp(spark)
    out = ip.run_raw("$semanticDedup($db($e), 4, 0.4)",
                     bindings={"$e": tables["embeddings"]})
    assert {"cluster", "id_a", "id_b", "cosine"} <= set(out.df.columns)
    n = out.df.count()
    assert n > 0


# ======================== from test_round9.py (r14 consolidation) ========
def _rand_emb(spark, n=300, d=16, parts=7, seed=2):
    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)])
            for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(parts)


def test_opq_rotation_orthonormal_deterministic(spark):
    """The rotation is orthonormal (cosine-preserving by construction)
    and BIT-identical at any partitioning — it derives from the
    engine-exact gram aggregate plus driver-side eigh, so parallelism
    cannot perturb it."""
    import numpy as np
    from radmapper_spark.operators import similarity
    emb = _rand_emb(spark, n=300, d=16, parts=5)
    R1, n1 = similarity.opq_rotation(emb, m=8)
    R2, n2 = similarity.opq_rotation(emb.repartition(13), m=8)
    d = R1.shape[0]
    assert np.abs(R1 @ R1.T - np.eye(d)).max() < 1e-9
    assert np.array_equal(R1, R2) and n1 == n2 == 300


def test_opq_rotation_preserves_exact_topk(spark):
    """Rotating corpus AND queries with the shared R leaves the exact
    cosine top-k unchanged — the property that keeps opq_topk's rerank
    stage exact."""
    import numpy as np
    from pyspark.sql import functions as F
    from radmapper_spark.operators import similarity
    from radmapper_spark.operators.linalg import pca_project
    emb = _rand_emb(spark, n=300, d=16, parts=5)
    q = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("qid"), "embedding")
    R, n = similarity.opq_rotation(emb, m=8)
    fit = (R, np.ones(16), np.zeros(16), n)
    rc = pca_project(emb, 16, id_col="vec_id", out_col="embedding", fit=fit)
    rq = pca_project(q, 16, id_col="qid", out_col="embedding", fit=fit)
    plain = sorted((r.qid, r.cid, r.rank) for r in
                   similarity.brute_force_topk(emb, q, k=10).collect())
    rot = sorted((r.qid, r.cid, r.rank) for r in
                 similarity.brute_force_topk(rc, rq, k=10).collect())
    assert plain == rot


def test_opq_topk_recall_clears_entry_bar(spark):
    """At the entry's parameters every query's rotated-PQ recall clears
    the driver oracle's 0.85 gate on the fixture embeddings (the entry
    then emits exact rows for gated queries, so boundary-tie candidate
    differences cannot leak into the hash)."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import similarity
    from radmapper_spark.entrypoints import load_tables
    t = load_tables(spark, "/root/testdata/sf0.001")
    emb = t["embeddings"]
    q = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("qid"), "embedding")
    exact = {(r.qid, r.cid) for r in
             similarity.brute_force_topk(emb, q, k=10).collect()}
    opq = {(r.qid, r.cid) for r in
           similarity.opq_topk(emb, q, k=10, m=16, ksub=16,
                               rerank=24).collect()}
    per_q = {}
    for qid, cid in exact:
        per_q.setdefault(qid, [0, 0])[1] += 1
        if (qid, cid) in opq:
            per_q[qid][0] += 1
    recalls = {qid: hit / tot for qid, (hit, tot) in per_q.items()}
    assert min(recalls.values()) >= 0.85, recalls


def test_opq_allocation_balances_eigen_products(spark):
    """The greedy eigenvalue allocation spreads principal directions so
    subspace log-variance products are tighter than grouping the SAME
    sorted eigen-directions contiguously (the naive split it replaces)."""
    import numpy as np
    from radmapper_spark.operators import similarity
    from radmapper_spark.operators.linalg import GRAM_SCALE, gram_matrix
    rng = __import__("random").Random(5)
    # anisotropic: coordinate j scaled by 2^-j/3 — a skewed spectrum
    rows = [(i, [rng.uniform(-1, 1) * (2.0 ** (-j / 3.0))
                 for j in range(16)]) for i in range(400)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(5)
    R, n = similarity.opq_rotation(emb, m=4)
    G = np.zeros((16, 16))
    for r in gram_matrix(emb, "embedding", dim=16).collect():
        G[r.i - 1, r.j - 1] = G[r.j - 1, r.i - 1] = (
            float(r.gram_scaled) / GRAM_SCALE)
    vals = np.sort(np.linalg.eigvalsh(G / n))[::-1]
    logs = np.log(np.maximum(vals, 1e-12))
    # R's rows are grouped by subspace; recover each row's eigenvalue
    # via the Rayleigh quotient r M2 r^T
    M2 = G / n
    rv = np.array([row @ M2 @ row for row in R])
    alloc = [np.log(np.maximum(rv[j * 4:(j + 1) * 4], 1e-12)).sum()
             for j in range(4)]
    contig = [logs[j * 4:(j + 1) * 4].sum() for j in range(4)]
    assert (max(alloc) - min(alloc)) <= (max(contig) - min(contig)) + 1e-9


def test_opq_error_cases(spark):
    from radmapper_spark.operators import similarity
    emb = _rand_emb(spark, n=50, d=10)
    with pytest.raises(ValueError, match="divisible"):
        similarity.opq_rotation(emb, m=3)
    empty = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null vectors"):
        similarity.opq_rotation(empty, m=2)


def test_opq_codebooks_evicted_by_release(spark):
    """The OPQ entry memoizes its rotation AND its rotated-space PQ
    codebooks, and a memo release evicts both; opq_topk handed the
    fitted rotation and books returns what it returns fitting them
    itself."""
    from pyspark.sql import functions as F
    from radmapper_spark import entrypoints as E
    from radmapper_spark.operators import similarity
    from radmapper_spark.session import _MEMO, release_memos
    E.ann_opq_topk(spark, SF_SMOKE).collect()
    kinds = ("codebook:opq_rotation:embedding", "codebook:pq:_rv")
    assert all(_MEMO[k] for k in kinds)  # the rotation and the PQ books
    assert release_memos("codebook:") >= 2
    assert not any(_MEMO[k] for k in kinds)
    emb = _rand_emb(spark, n=120, d=8)
    q = emb.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    rot = similarity.opq_rotation(emb, m=4)
    books = similarity.train_pq_codebooks(
        similarity.opq_rotate(emb, rot), "_rv", m=4, ksub=4)
    fitted = similarity.opq_topk(emb, q, k=5, m=4, ksub=4, rerank=2,
                                 rotation=rot, books=books).collect()
    inline = similarity.opq_topk(emb, q, k=5, m=4, ksub=4,
                                 rerank=2).collect()
    assert sorted(map(tuple, fitted)) == sorted(map(tuple, inline))


# ======================== from test_round10.py (r14 consolidation) ========
def test_opq_fit_never_evicts_plain_pq_books(spark):
    """VERDICT r9 watch item: the OPQ entry's codebook memo traffic must
    not evict the plain-PQ books between bench passes. Structural
    guarantee under test: each memo kind holds one entry, and the OPQ
    rotation and its rotated-space ('_rv' vec_col) books are kinds of
    their own, apart from the plain-PQ kind."""
    from radmapper_spark import entrypoints as E
    from radmapper_spark.session import _MEMO, memo_stats
    E.ann_pq_topk(spark, SF_SMOKE).collect()
    pq_books = dict(_MEMO["codebook:pq:embedding"])
    assert pq_books, "plain-PQ fit did not populate the memo"
    E.ann_opq_topk(spark, SF_SMOKE).collect()
    after = _MEMO["codebook:pq:embedding"]
    assert after.keys() == pq_books.keys(), \
        "OPQ fit evicted plain-PQ codebooks"
    for k in pq_books:  # same objects — not refit, not replaced
        assert after[k][1] is pq_books[k][1]
    assert _MEMO["codebook:pq:_rv"] \
        and _MEMO["codebook:opq_rotation:embedding"], \
        "OPQ fit memoized nothing of its own"
    hits = memo_stats()["codebook:pq:embedding"]["hits"]
    E.ann_pq_topk(spark, SF_SMOKE)
    assert memo_stats()["codebook:pq:embedding"]["hits"] == hits + 1
