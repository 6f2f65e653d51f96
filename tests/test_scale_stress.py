"""Scale-stress harness: 20x the bench data, synthesized on the fly.

Gated behind RM_SCALE_STRESS=1 (several minutes of CPU) — run manually:

    RM_SCALE_STRESS=1 python -m pytest tests/test_scale_stress.py -q -s

Purpose: evidence that the temporal/sessionization plans behave linearly
well past the bench SF — the operators whose naive formulations blow up
super-linearly (asof via BNLJ, range join via pair streams). Numbers are
recorded in BASELINE.md round-5 addendum.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from radmapper_spark.operators import temporal
from radmapper_spark.session import scope

pytestmark = pytest.mark.skipif(
    os.environ.get("RM_SCALE_STRESS") != "1",
    reason="set RM_SCALE_STRESS=1 to run the multi-minute scale stress")

N_EVENTS = 2_000_000
N_USERS = 5_000


@pytest.fixture(scope="module")
def big_events(spark, tmp_path_factory):
    """2M synthetic events, deterministic, written to parquet so every
    operator reads a realistic multi-file scan (not an in-memory range)."""
    path = str(tmp_path_factory.mktemp("stress") / "events")
    (spark.range(N_EVENTS).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), N_USERS).alias("user_id"),
        F.timestamp_micros(
            (F.lit(1704067200_000000)
             + F.pmod(F.xxhash64("id", F.lit(1)), 30 * 86400) * 1_000_000
             + F.col("id") % 1_000_000)).alias("ts"),
        F.element_at(
            F.array(*[F.lit(t) for t in
                      ("click", "error", "purchase", "signup", "view")]),
            (F.pmod(F.xxhash64("id", F.lit(2)), 5) + 1).cast("int")).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(3)), 100000) / 100.0).alias("value"))
     .repartition(32).write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def _timed(name, df, probe_col):
    """Aggregate over a COMPUTED column — plain count() lets Catalyst
    eliminate count-invariant operators (windows), timing nothing."""
    t0 = time.monotonic()
    n = df.agg(F.count(F.col(probe_col)).alias("n")).collect()[0]["n"]
    dt = time.monotonic() - t0
    print(f"  {name}: {n} non-null in {dt:.1f}s")
    return dt


def test_asof_join_2m(big_events):
    p = big_events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts")
    c = big_events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts")
    out = temporal.asof_join(p, c, on="user_id", right_cols=("click_id",))
    dt = _timed("asof_join 400k x 400k", out, "click_id_right")
    assert dt < 120


def test_sessionize_2m(big_events):
    dt = _timed("sessionize 2M", temporal.sessionize(big_events),
                "session_seq")
    assert dt < 120


def test_rollup_2m(big_events):
    dt = _timed("time_rollup 2M", temporal.time_rollup(big_events),
                "sum_value")
    assert dt < 120


def test_range_agg_2m(big_events):
    """100k intervals against 2M right rows via per-bucket partials."""
    left = big_events.filter(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("lid"), F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("e"))
    out = temporal.range_agg_bucketed(
        left, big_events, id_col="lid", left_start=F.col("s"),
        left_end=F.col("e"), right_ts="ts", bucket_sec=600,
        sum_col="value", count_name="n", sum_name="sv")
    # bucket_sec = interval/36, NOT == interval: with coarse buckets the
    # <= 2 edge buckets per (unaligned) interval each contain
    # right_density * bucket_sec raw rows, and the edge join dominates
    # (measured 50 s at bucket == interval vs ~8 s at interval/36)
    dt = _timed("range_agg 100k intervals x 2M", out, "sv")
    assert dt < 120


def test_sliced_asof_hot_key(spark, big_events):
    """Hot-key workload: ONE user owns half the rows. The sliced variant
    must stay correct; timing printed for the record (the plain window
    serializes the hot key on one core)."""
    hot = big_events.withColumn(
        "user_id", F.when(F.xxhash64("event_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id")))
    p = hot.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts")
    c = hot.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), "user_id", "ts")
    t_plain = _timed("asof hot-key plain",
                     temporal.asof_join(p, c, on="user_id",
                                        right_cols=("cid",)), "cid_right")
    t_sliced = _timed("asof hot-key sliced(1d)",
                      temporal.sliced_asof_join(
                          p, c, on="user_id", slice_sec=86400,
                          right_cols=("cid",)), "cid_right")
    # correctness: identical non-null match counts imply same semantics
    # (full row-equality checked at sf0.01 in test_temporal)
    assert t_sliced < 180 and t_plain < 600


def test_dedup_stack_50k_docs(spark, tmp_path_factory):
    """The dedup pipeline at 10x the bench corpus: 50k synthetic docs
    with 2.5k planted near-duplicate pairs -> minhash-LSH pairs ->
    connected components. Asserts recall on the planted pairs and wall
    bounds; candidate volume stays bucketed (no all-pairs)."""
    import time
    from radmapper_spark.operators import dedup

    n, n_dup = 50_000, 2_500
    words = [f"w{i}" for i in range(800)]
    path = str(tmp_path_factory.mktemp("stress") / "docs")
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.element_at(
                F.array(*[F.lit(w) for w in words]),
                (F.pmod(F.xxhash64("id", F.lit(j)), 800) + 1).cast("int"))
            for j in range(30)]).alias("text"))
    # plant dups: docs [0, n_dup) cloned to ids [n, n+n_dup) with one word
    # changed (jaccard ~ 29/31 > 0.5 threshold)
    dup = (base.filter(F.col("doc_id") < n_dup)
           .select((F.col("doc_id") + n).alias("doc_id"),
                   F.concat(F.col("text"), F.lit(" extra")).alias("text")))
    base.unionByName(dup).repartition(32).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    t0 = time.monotonic()
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    t_pairs = time.monotonic() - t0
    planted = {(i, i + n) for i in range(n_dup)}
    recall = len(found & planted) / n_dup
    print(f"  minhash 52.5k docs: {len(found)} pairs in {t_pairs:.1f}s, "
          f"planted recall {recall:.3f}")

    t0 = time.monotonic()
    groups = dedup.dedup_groups(docs, pairs)
    n_groups = groups.select("component").distinct().count()
    t_groups = time.monotonic() - t0
    print(f"  dedup_groups: {n_groups} components in {t_groups:.1f}s")
    assert recall >= 0.97
    assert t_pairs < 300 and t_groups < 300


def test_cdc_merge_2m(spark, big_events):
    """2M-row latest-wins merge: the max-struct reduce must stay a single
    key shuffle with map-side partials at 20x bench scale."""
    from radmapper_spark.operators import cdc
    base = big_events.select("event_id", "ts",
                             F.col("event_type").alias("status"))
    changes = (base.filter(F.col("event_id") % 5 == 0)
               .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
               .withColumn("status", F.lit("updated"))
               .withColumn("_deleted", F.col("event_id") % 25 == 0))
    t0 = time.time()
    out = cdc.merge_latest(base, changes, keys=["event_id"], ts_col="ts")
    n = out.count()
    dt = time.time() - t0
    print(f"\ncdc_merge 2M: {n} rows in {dt:.1f}s")
    assert n == N_EVENTS - N_EVENTS // 25     # tombstones removed
    assert dt < 120


def test_funnel_2m(spark, big_events):
    """Funnel at 2M events / 5k users: one user partitioning, join-free."""
    from radmapper_spark.operators import behavior
    t0 = time.time()
    out = behavior.funnel_stages(
        big_events, ["view", "click", "purchase"],
        tolerance_sec=86400).collect()
    dt = time.time() - t0
    ns = {r["stage"]: r["n_users"] for r in out}
    print(f"\nfunnel 2M: {ns} in {dt:.1f}s")
    assert ns[1] >= ns[2] >= ns[3] > 0
    assert dt < 120


def test_pagerank_200k_edges(spark):
    """PageRank on a 200k-edge synthetic graph: 3 iterations must stay
    minutes-free (lineage persisted, broadcast rank table)."""
    from radmapper_spark.operators import graph
    n_edges, n_nodes = 200_000, 20_000
    e = (spark.range(n_edges).select(
        F.concat(F.lit("n"), F.pmod(F.xxhash64("id"), n_nodes))
        .alias("src"),
        F.concat(F.lit("n"), F.pmod(F.xxhash64("id", F.lit(1)), n_nodes))
        .alias("dst"))
        .filter(F.col("src") != F.col("dst")))
    t0 = time.time()
    pr = graph.pagerank(e, iters=3)
    n = pr.count()
    s = pr.agg(F.min("rank")).first()[0]
    dt = time.time() - t0
    print(f"\npagerank 200k edges: {n} nodes, min rank {s}, {dt:.1f}s")
    assert n > 0 and s > 0
    assert dt < 120


def test_decontam_200k_docs(spark, tmp_path_factory):
    """Decontamination at 200k synthetic docs vs a 1k-doc benchmark:
    hashed-gram broadcast join must stay linear in the corpus."""
    from radmapper_spark.operators import decontam
    path = str(tmp_path_factory.mktemp("decon") / "docs")
    words = F.array(*[F.lit(w) for w in
                      "alpha beta gamma delta epsilon zeta eta theta "
                      "iota kappa lamda mu".split()])
    (spark.range(200_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[
            F.element_at(words,
                         (F.pmod(F.xxhash64("id", F.lit(i)), 12) + 1)
                         .cast("int"))
            for i in range(30)]).alias("text"))
     .write.mode("overwrite").parquet(path))
    docs = spark.read.parquet(path)
    bench = docs.filter(F.col("doc_id") < 1_000)
    corpus = docs.filter(F.col("doc_id") >= 1_000)
    t0 = time.time()
    out = decontam.decontaminate(corpus, bench, n=8)
    n_contam = out.filter(F.col("contaminated")).count()
    dt = time.time() - t0
    print(f"\ndecontam 200k docs: {n_contam} contaminated in {dt:.1f}s")
    assert out.count() == 199_000
    assert dt < 120


# --------------------------------------------------- round-6b operators

def test_transitions_2m(big_events):
    from radmapper_spark.operators import behavior
    dt = _timed("event_transitions 2M", behavior.event_transitions(
        big_events), "prob")
    assert dt < 120


def test_rolling_anomalies_2m(big_events):
    from radmapper_spark.operators import behavior
    dt = _timed("rolling_anomalies 2M", behavior.rolling_anomalies(
        big_events), "zscore")
    assert dt < 120


def test_gapfill_2m(big_events):
    from radmapper_spark.operators import temporal as T
    dt = _timed("gapfill_daily 2M -> 5k users x 30 days", T.gapfill_daily(
        big_events), "cum_total")
    assert dt < 120


@pytest.fixture(scope="module")
def big_docs(spark, tmp_path_factory):
    """500k synthetic docs (~40 tokens each, ~20M tokens), parquet-backed."""
    path = str(tmp_path_factory.mktemp("stress") / "docs")
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa"]
    warr = F.array(*[F.lit(w) for w in words])
    (spark.range(500_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 64).cast("string"))
        .alias("source"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), (F.pmod(F.xxhash64("id"), 60) + 10)
                           .cast("int")),
                lambda i: F.element_at(
                    warr,
                    (F.pmod(F.xxhash64(F.col("id"), i), 10) + 1)
                    .cast("int"))), " ").alias("text"))
     .repartition(32).write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def test_chunking_500k_docs(big_docs):
    from radmapper_spark.operators import chunking
    out = chunking.chunk_documents(big_docs, chunk_tokens=32, overlap=8)
    dt = _timed("chunk_documents 500k docs", out, "chunk_text")
    assert dt < 120


def test_packing_500k_docs(big_docs):
    """Greedy packing at 64 groups x ~8k docs/group: the fold is linear
    per group; wall time bounds the O(n^2)-array-concat risk the
    docstring warns about at much larger groups."""
    from radmapper_spark.operators import chunking
    with_n = big_docs.select(
        "source", "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        .alias("n_tokens"))
    out = chunking.pack_sequences(with_n, capacity=256)
    dt = _timed("pack_sequences 500k docs / 64 groups", out, "pack_fill")
    assert dt < 180


def test_bm25_500k_docs(big_docs):
    from radmapper_spark.operators import textstats
    out = textstats.bm25_score(big_docs, ["alpha", "beta", "gamma"],
                               top_k=100)
    dt = _timed("bm25 500k docs", out, "bm25")
    assert dt < 120


def test_packing_sharded_500k_docs(big_docs):
    """The scale path: shard-local greedy + bin renumbering — linear in
    group size (measured ~5 s vs ~42 s for the pure fold at 500k docs)."""
    from radmapper_spark.operators import chunking
    with_n = big_docs.select(
        "source", "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
        .alias("n_tokens"))
    out = chunking.pack_sequences_sharded(with_n, capacity=256,
                                          shard_docs=500)
    dt = _timed("pack_sequences_sharded 500k docs", out, "pack_fill")
    assert dt < 60


# --------------------------------------------- 100x-claim equivalence

@pytest.fixture(scope="module")
def big_graph(spark, tmp_path_factory):
    """4.5M-edge / ~450k-node synthetic graph with planted 1k-deep
    chains (so min-label propagation would need ~1k rounds — the shape
    that motivates large-star/small-star), written to parquet."""
    path = str(tmp_path_factory.mktemp("graph") / "edges")
    n_edges, n_nodes = 4_500_000, 450_000
    rand = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id"), n_nodes).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(1)), n_nodes).alias("dst"))
    # 10 chains of depth 1000 in a reserved id range [10^9, 10^9+10^4)
    chains = spark.range(10_000).select(
        (F.lit(1_000_000_000) + F.col("id")).alias("src"),
        (F.lit(1_000_000_000) + F.col("id") + 1).alias("dst")
    ).filter((F.col("id") % 1_000) != 999)
    (rand.unionByName(chains).filter(F.col("src") != F.col("dst"))
     .repartition(32).write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def test_cc_distributed_equals_driver_unionfind_above_gate(spark, big_graph):
    """The 100x claim for dedup grouping, proven end-to-end: above the
    default rm.broadcastMaxBytes gate the large-star/small-star loop must
    label EVERY node identically to the driver union-find (gate lifted
    to force it) — same components, same min-id labels, zero rows
    differing."""
    from radmapper_spark.operators import graph
    e = big_graph.select(F.col("src").alias("id_a"),
                         F.col("dst").alias("id_b"))
    n_edges = e.count()
    assert n_edges * graph.DRIVER_EDGE_BYTES > 256 << 20, \
        "fixture must sit above the default driver gate"

    t0 = time.time()
    dist = graph.connected_components(e).persist()  # default gate
    assert dist.rm_graph_path == "partitioned"
    n_dist = dist.count()
    dt_dist = time.time() - t0

    t0 = time.time()
    spark.conf.set("rm.broadcastMaxBytes", str(8 << 30))
    try:
        local = graph.connected_components(e).persist()  # gate lifted
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")
    assert local.rm_graph_path == "driver"
    n_local = local.count()
    dt_local = time.time() - t0

    print(f"\ncc 4.5M edges: distributed {n_dist} nodes {dt_dist:.1f}s, "
          f"driver {n_local} nodes {dt_local:.1f}s")
    assert n_dist == n_local
    assert dist.exceptAll(local).isEmpty()
    assert local.exceptAll(dist).isEmpty()
    # the planted 1000-deep chains collapsed to their min id
    chain0 = (dist.filter(F.col("node") >= 1_000_000_000)
              .filter(F.col("node") < 1_000_000_000 + 1_000))
    assert (chain0.select("component").distinct().count() == 1)
    dist.unpersist()
    local.unpersist()
    assert dt_dist < 300


def test_pagerank_copartitioned_equals_broadcast_4m_edges(spark, big_graph):
    """The 100x claim for pagerank: broadcast_ranks=False (the
    huge-node-set path — shuffle join per iteration instead of a rank
    broadcast) must produce BIT-IDENTICAL scaled-integer ranks to the
    broadcast path on a 4.5M-edge graph."""
    from radmapper_spark.operators import graph
    t0 = time.time()
    pr_b = graph.pagerank(big_graph, iters=3, broadcast_ranks=True).persist()
    n_b = pr_b.count()
    dt_b = time.time() - t0

    t0 = time.time()
    pr_s = graph.pagerank(big_graph, iters=3, broadcast_ranks=False).persist()
    n_s = pr_s.count()
    dt_s = time.time() - t0

    print(f"\npagerank 4.5M edges: broadcast {n_b} nodes {dt_b:.1f}s, "
          f"co-partitioned {n_s} nodes {dt_s:.1f}s")
    assert n_b == n_s
    diff = (pr_b.alias("a").join(pr_s.alias("b"), "node")
            .filter(F.col("a.rank") != F.col("b.rank")))
    assert diff.isEmpty(), "scaled-integer ranks must be bit-identical"
    for pr in (pr_b, pr_s):
        pr.unpersist()
    assert dt_s < 300


def test_embedding_index_probe_50k_vectors(spark, tmp_path_factory):
    """Persisted embedding index at 50k vectors / probe with a 5k batch:
    the exact probe (one 5k x 50k cosine_join) must stay seconds-scale
    and return exactly the pairs a brute-force numpy product counts,
    planted near-dups included."""
    import numpy as np
    from radmapper_spark.operators import dedup
    root = tmp_path_factory.mktemp("slsh_stress")
    n, dim, nplant = 50_000, 64, 500
    rng = np.random.default_rng(11)
    corpus_m = rng.normal(size=(n, dim))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in corpus_m[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>").repartition(16)
    # batch: nplant perturbed copies of corpus rows (cos ~0.97) + 4.5k noise
    batch_m = rng.normal(size=(5_000, dim))
    batch_m[:nplant] = corpus_m[:nplant] + 0.18 * rng.normal(
        size=(nplant, dim))
    batch = spark.createDataFrame(
        [(1_000_000 + i, [float(x) for x in batch_m[i]])
         for i in range(5_000)],
        "vec_id bigint, embedding array<double>").repartition(8)

    t0 = time.time()
    path = str(root / "idx")
    dedup.build_embedding_index(corpus, path)
    t_build = time.time() - t0
    t0 = time.time()
    hits = dedup.neardup_embedding_vs_index(batch, path, threshold=0.9)
    got = {(r["new_id"], r["index_id"]) for r in hits.collect()}
    t_probe = time.time() - t0
    truth = {(1_000_000 + i, i) for i in range(nplant)
             if float(batch_m[i] @ corpus_m[i]
                      / (np.linalg.norm(batch_m[i])
                         * np.linalg.norm(corpus_m[i]))) >= 0.9}
    assert len(truth) > 400, "fixture should plant enough true pairs"
    unit = lambda m: m / np.linalg.norm(m, axis=1, keepdims=True)  # noqa
    cos = unit(batch_m) @ unit(corpus_m).T
    bi, ci = np.nonzero(cos >= 0.9)
    brute = {(1_000_000 + int(b), int(c)) for b, c in zip(bi, ci)}
    print(f"\nembedding index 50k: build {t_build:.1f}s, "
          f"probe {t_probe:.1f}s, {len(got)} hits, "
          f"{len(brute)} brute-force pairs")
    assert truth <= got
    assert got == brute
    assert t_probe < 60


# ------------------------------------------- continuous-trigger soaks (r8)

SOAK_BATCHES = 50


def _progress_dicts(q) -> list:
    import json
    out = []
    for p in q.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _drain_soak(q, min_batches: int = SOAK_BATCHES,
                timeout_s: int = 300) -> list:
    """Run a continuous-trigger query until >= min_batches micro-batches
    completed, then stop and return the committed-progress list (capped
    well under the 100-entry progress buffer so numInputRows sums are
    exact)."""
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if len(q.recentProgress) >= min_batches:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)
    prog = _progress_dicts(q)
    assert len(prog) >= min_batches, \
        f"only {len(prog)} micro-batches in {timeout_s}s"
    assert len(prog) < 95, "progress buffer near eviction — K would undercount"
    return prog


def test_rate_source_anomaly_soak(spark):
    """Rate-source soak for the stateful running-anomaly operator
    (streaming/windows.py rolling_anomalies_stream): >=50 continuous
    micro-batches, per-user ring state BOUNDED at one row per user the
    whole run, and the flagged set equal to the batch twin over exactly
    the rows the stream processed (rate values are contiguous from 0, so
    the processed prefix is reconstructible)."""
    from radmapper_spark.operators.behavior import rolling_anomalies
    from radmapper_spark.streaming.windows import rolling_anomalies_stream

    users = 20

    def eventize(df):
        v = F.col("value")
        return df.select(
            v.alias("event_id"),
            F.pmod(v, F.lit(users)).alias("user_id"),
            F.timestamp_seconds(F.lit(1704067200) + v).alias("ts"),
            F.when(F.pmod(v, 97) == 0, F.lit(500.0))
            .otherwise(F.pmod(v, 7).cast("double")).alias("value"))

    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", 400).option("numPartitions", 4).load())
    q = (rolling_anomalies_stream(eventize(src))
         .writeStream.format("memory").queryName("soak_anom")
         .outputMode("append")
         .trigger(processingTime="250 milliseconds").start())
    prog = _drain_soak(q)
    k = int(sum(p.get("numInputRows", 0) for p in prog))
    assert k > 2000
    state_rows = [op["numRowsTotal"] for p in prog
                  for op in p.get("stateOperators", [])]
    assert state_rows and max(state_rows) <= users, \
        f"state must stay one ring per user, saw {max(state_rows)}"
    got = {(r.event_id, r.user_id, r.zscore)
           for r in spark.table("soak_anom").collect()}
    batch_in = eventize(spark.range(k).select(F.col("id").alias("value")))
    want = {(r.event_id, r.user_id, r.zscore)
            for r in rolling_anomalies(batch_in).collect()}
    print(f"\nanomaly soak: {len(prog)} batches, {k} rows, "
          f"{len(want)} flags, state_max={max(state_rows)}")
    assert len(want) > 0, "soak produced no anomalies — vacuous"
    assert got == want


def test_rate_source_neardup_admission_soak(spark):
    """Rate-source soak for the stateful streaming near-dup admission
    (streaming/neardup.py neardup_stream): >=50 continuous micro-batches
    of synthesized documents, state bounded by the distinct LSH bucket
    count (never the document count), and the emitted pair set equal to
    the batch operator over the processed prefix."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming.neardup import neardup_stream

    groups = 400

    def docize(df):
        # Per-group vocabulary is fully DISJOINT (every token carries the
        # group id): cross-group jaccard is exactly 0, within-group pairs
        # differ only in the tail token (true jaccard ~0.8, or 1.0 for
        # the same tail). A first cut shared 20 generic words across
        # groups — cross-group jaccard ~0.46 sat ON the threshold, so
        # minhash noise matched a large fraction of ALL pairs and the
        # quadratic output blew past driver.maxResultSize.
        v = F.col("value")
        g = F.pmod(v, F.lit(groups))
        words = [F.concat(F.lit(f"w{j}g"), g) for j in range(12)]
        return df.select(
            v.alias("doc_id"),
            F.concat_ws(
                " ", *words,
                F.concat(F.lit("tail"), F.pmod(v, F.lit(3)))).alias("text"))

    src = (spark.readStream.format("rate")
           .option("rowsPerSecond", 100).option("numPartitions", 4).load())
    q = (neardup_stream(docize(src), jaccard_threshold=0.5,
                        max_bucket=1024)
         .writeStream.format("memory").queryName("soak_ndup")
         .outputMode("append")
         .trigger(processingTime="250 milliseconds").start())
    prog = _drain_soak(q)
    k = int(sum(p.get("numInputRows", 0) for p in prog))
    assert k > 1000
    docs = docize(spark.range(k).select(F.col("id").alias("value")))
    n_buckets = dedup.minhash_bands(dedup.minhash_base(docs)) \
        .select("band", "bhash").distinct().count()
    state_rows = [op["numRowsTotal"] for p in prog
                  for op in p.get("stateOperators", [])]
    assert state_rows and max(state_rows) <= n_buckets, \
        "state rows exceeded the distinct bucket count"
    got = {(r.id_a, r.id_b, round(r.est_jaccard, 6))
           for r in spark.table("soak_ndup").collect()}
    want_df = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    want = {(r.id_a, r.id_b, round(r.est_jaccard, 6))
            for r in want_df.collect()}
    print(f"\nneardup soak: {len(prog)} batches, {k} docs, "
          f"{len(want)} pairs, state_max={max(state_rows)}, "
          f"buckets={n_buckets}")
    assert len(want) > 0, "soak produced no near-dup pairs — vacuous"
    assert got == want


def test_admission_loop_20_batch_fold_differential(spark, tmp_path_factory):
    """20 micro-batches through start_neardup_admission must leave
    EXACTLY the index and audit trail of a sequential per-batch fold of
    the batch operators (probe -> TRANSITIVE cluster reject -> append) —
    the determinism contract of the streaming admission loop over a
    long run with cross-batch duplicates. The transitive spec (clean
    cluster admits its smallest id; a cluster with any index hit is
    rejected wholesale; audit rows reference the admitted rep / the
    index doc) is RE-DERIVED here with a test-local union-find, not by
    calling the production _resolve_admission — an independent
    implementation, so the differential stays a real check."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import sinks

    root = tmp_path_factory.mktemp("admit20")
    n_batches, per_batch = 20, 30

    def txt(g):
        return " ".join(f"g{g}w{j}" for j in range(12))

    def batch_rows(b):
        # each doc duplicates group (id % 97): dups recur across batches
        return [(b * per_batch + i, txt((b * per_batch + i) % 97))
                for i in range(per_batch)]

    corpus = spark.createDataFrame(
        [(100000 + g, txt(g)) for g in range(0, 97, 3)],
        "doc_id long, text string")
    schema = "doc_id long, text string"

    # --- streaming loop
    idx_s = str(root / "idx_stream")
    dedup.build_minhash_index(corpus, idx_s)
    src = str(root / "in")
    out, ckpt = str(root / "hits"), str(root / "ck")
    for b in range(n_batches):
        spark.createDataFrame(batch_rows(b), schema).coalesce(1) \
            .write.mode("overwrite" if b == 0 else "append").parquet(src)
        q = sinks.start_neardup_admission(
            (spark.readStream.schema(corpus.schema)
             .option("maxFilesPerTrigger", 1).parquet(src)),
            idx_s, out, ckpt)
        q.awaitTermination(180)

    # --- sequential batch fold (the semantic spec, independent impl)
    idx_f = str(root / "idx_fold")
    dedup.build_minhash_index(corpus, idx_f)
    audit_f = []
    for b in range(n_batches):
        bdf = spark.createDataFrame(batch_rows(b), schema)
        hits = dedup.neardup_vs_index(bdf, idx_f)
        hrows = hits.collect()
        with scope():  # frees the batch's signatures
            irows = dedup.minhash_lsh_pairs(
                bdf, jaccard_threshold=0.5).collect()
        idx_min = {}
        for r in hrows:
            idx_min[r.new_id] = min(idx_min.get(r.new_id, r.index_id),
                                    r.index_id)
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        est = {}
        for r in irows:
            parent.setdefault(r.id_a, r.id_a)
            parent.setdefault(r.id_b, r.id_b)
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
            est[(r.id_a, r.id_b)] = r.est_jaccard
        comps = {}
        for x in parent:
            comps.setdefault(find(x), []).append(x)
        audit_f += [(r.new_id, r.index_id, r.est_jaccard) for r in hrows]
        rejected = set(idx_min)
        for members in comps.values():
            hit = sorted(m for m in members if m in idx_min)
            if hit:  # tainted cluster: rejected wholesale
                tgt = idx_min[hit[0]]
                for m in members:
                    if m not in idx_min:
                        rejected.add(m)
                        audit_f.append((m, tgt, None))
            else:
                rep = min(members)
                for m in members:
                    if m != rep:
                        rejected.add(m)
                        audit_f.append(
                            (m, rep, est.get((min(m, rep), max(m, rep)))))
        dedup.append_to_minhash_index(
            bdf.filter(~F.col("doc_id").isin(*rejected))
            if rejected else bdf, idx_f)

    def canon(rows):
        return sorted(((a, i, None if e is None else round(e, 9))
                       for a, i, e in rows),
                      key=lambda t: (t[0], t[1], repr(t[2])))

    got_idx = sorted((r.id, r.band, r.bhash) for r in
                     spark.read.parquet(idx_s).collect())
    want_idx = sorted((r.id, r.band, r.bhash) for r in
                      spark.read.parquet(idx_f).collect())
    assert got_idx == want_idx
    got_audit = canon((r.new_id, r.index_id, r.est_jaccard) for r in
                      spark.read.parquet(out).collect())
    assert got_audit == canon(audit_f)
    n_indexed = len({i for i, _, _ in got_idx})
    print(f"\nadmission fold: {n_batches}x{per_batch} docs, "
          f"{n_indexed} indexed ids, {len(got_audit)} audit rows")
    assert len(got_audit) > 0 and n_indexed > 33


def test_embedding_admission_20_batch_fold_differential(
        spark, tmp_path_factory):
    """Embedding twin of the minhash fold differential: 20 micro-batches
    through start_embedding_admission must leave exactly the index and
    audit trail of a sequential per-batch fold of the batch operators
    under the transitive-cluster spec (independent union-find here, not
    the production helper). Vectors recur across batches (group = id %
    61, three tail variants per group) so cross-batch index hits, clean
    intra clusters AND tainted clusters all occur."""
    import math
    from pyspark.sql import functions as F
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import sinks

    root = tmp_path_factory.mktemp("eadmit20")
    n_batches, per_batch, groups = 20, 25, 61
    thr = 0.9

    def vec(i, dim=16):
        # group base direction in the (e_{2g}, e_{2g+1} mod dim) plane,
        # tail variant rotates by 0 / 0.28 / 0.56 rad: adjacent tails
        # pair (cos 0.28 = 0.961 >= thr) but tail 2 is NOT a near-dup of
        # tail 0 (cos 0.56 = 0.847 < thr) and sits OUTSIDE the 0.451-rad
        # index-hit radius of an indexed tail-0 vector — so once tail 0
        # is indexed, tail 2 reaches rejection only TRANSITIVELY through
        # tail 1 (the None-estimate tainted audit the vacuousness guard
        # demands)
        g, tail = i % groups, (i // groups) % 3
        a, b = (2 * g) % dim, (2 * g + 1) % dim
        th = 0.28 * tail
        v = [0.0] * dim
        v[a] += math.cos(th)
        v[b] += math.sin(th)
        return v

    def batch_rows(b):
        return [(b * per_batch + i, vec(b * per_batch + i))
                for i in range(per_batch)]

    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(100000 + g, vec(g)) for g in range(0, groups, 4)], schema)

    # --- streaming loop
    idx_s = str(root / "idx_stream")
    dedup.build_embedding_index(corpus, idx_s)
    src = str(root / "vin")
    out, ckpt = str(root / "vhits"), str(root / "vck")
    for b in range(n_batches):
        spark.createDataFrame(batch_rows(b), schema).coalesce(1) \
            .write.mode("overwrite" if b == 0 else "append").parquet(src)
        q = sinks.start_embedding_admission(
            (spark.readStream.schema(corpus.schema)
             .option("maxFilesPerTrigger", 1).parquet(src)),
            idx_s, out, ckpt, threshold=thr)
        q.awaitTermination(180)

    # --- sequential batch fold (independent transitive spec)
    idx_f = str(root / "idx_fold")
    dedup.build_embedding_index(corpus, idx_f)
    audit_f = []
    for b in range(n_batches):
        bdf = spark.createDataFrame(batch_rows(b), schema)
        hrows = dedup.neardup_embedding_vs_index(
            bdf, idx_f, threshold=thr).collect()
        irows = dedup.embedding_cosine_pairs(bdf, threshold=thr).collect()
        idx_min = {}
        for r in hrows:
            idx_min[r.new_id] = min(idx_min.get(r.new_id, r.index_id),
                                    r.index_id)
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        est = {}
        for r in irows:
            parent.setdefault(r.id_a, r.id_a)
            parent.setdefault(r.id_b, r.id_b)
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
            est[(r.id_a, r.id_b)] = r.cosine
        comps = {}
        for x in parent:
            comps.setdefault(find(x), []).append(x)
        audit_f += [(r.new_id, r.index_id, r.cosine) for r in hrows]
        rejected = set(idx_min)
        for members in comps.values():
            hit = sorted(m for m in members if m in idx_min)
            if hit:
                tgt = idx_min[hit[0]]
                for m in members:
                    if m not in idx_min:
                        rejected.add(m)
                        audit_f.append((m, tgt, None))
            else:
                rep = min(members)
                for m in members:
                    if m != rep:
                        rejected.add(m)
                        audit_f.append(
                            (m, rep, est.get((min(m, rep), max(m, rep)))))
        dedup.append_to_embedding_index(
            bdf.filter(~F.col("vec_id").isin(*rejected))
            if rejected else bdf, idx_f)

    def canon(rows):
        return sorted(((a, i, None if e is None else round(e, 9))
                       for a, i, e in rows),
                      key=lambda t: (t[0], t[1], repr(t[2])))

    # the stream's admits are batch partitions, the fold's the seed
    got = sorted(map(tuple, spark.read.parquet(f"{idx_s}/vectors")
                     .select("id", "v").collect()))
    want = sorted(map(tuple, spark.read.parquet(f"{idx_f}/vectors")
                      .select("id", "v").collect()))
    assert got == want, "index vectors table diverged"
    got_audit = canon((r.new_id, r.index_id, r.cosine) for r in
                      spark.read.parquet(out).collect())
    assert got_audit == canon(audit_f)
    n_indexed = spark.read.parquet(f"{idx_s}/vectors") \
        .select("id").distinct().count()
    tainted = sum(1 for _, _, e in audit_f if e is None)
    print(f"\nembedding fold: {n_batches}x{per_batch} vecs, "
          f"{n_indexed} indexed, {len(got_audit)} audit rows "
          f"({tainted} transitive/tainted)")
    assert len(got_audit) > 0 and n_indexed > 16
    assert tainted > 0, "no transitive/tainted audits — fixture vacuous"


def test_global_ntile_2m_rows(spark):
    """global_ntile at 2M rows: exact bucket sizing (first rem buckets
    get base+1 rows), bucket ORDER respects the sort key (every row of
    bucket t sorts before every row of bucket t+1), and the plan never
    funnels the data through a single-partition window. The windowed
    reference is unrunnable at this scale by design — sizing+ordering
    properties ARE ntile's definition, so together with the small-n
    equivalence tests they pin the semantics."""
    import time
    from radmapper_spark.operators.ranking import global_ntile

    n, k = 2_000_000, 10
    df = spark.range(n).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), 10 ** 9).alias("v"))
    t0 = time.monotonic()
    tiled = global_ntile(df, k, [F.col("v").desc(), F.col("id").asc()],
                         tile_col="tile")
    plan = tiled._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("_rm_pid" in ln for ln in win_lines)
    stats = (tiled.groupBy("tile")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.max("v").alias("hi"), F.min("v").alias("lo"))
             .orderBy("tile").collect())
    dt = time.monotonic() - t0
    print(f"  global_ntile 2M x {k}: {dt:.1f}s")
    base, rem = divmod(n, k)
    assert [r.tile for r in stats] == list(range(1, k + 1))
    assert [r.n for r in stats] == [base + 1] * rem + [base] * (k - rem)
    for prev, cur in zip(stats, stats[1:]):
        assert prev.lo >= cur.hi, "bucket order violates the sort key"
    assert dt < 120


def test_dsir_500k_docs(spark, big_docs):
    """DSIR selection at 500k docs: the weight table stays broadcast
    (never a corpus shuffle at occurrence grain), the cut plans as
    TakeOrderedAndProject, and the selection is bit-identical across
    partitionings (integer scoring)."""
    import time
    from radmapper_spark.operators import selection

    tgt = F.col("source").isin(*[f"src{i}" for i in range(4)])
    raw, target = big_docs.filter(~tgt), big_docs.filter(tgt)
    t0 = time.monotonic()
    sel = selection.dsir_select(raw, target, k=200)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    rows = sorted((r.doc_id, r.score, r.sel_rank) for r in sel.collect())
    dt = time.monotonic() - t0
    print(f"  dsir_select 500k docs: {dt:.1f}s")
    assert len(rows) == 200
    again = sorted((r.doc_id, r.score, r.sel_rank) for r in
                   selection.dsir_select(raw.repartition(7), target,
                                         k=200).collect())
    assert rows == again
    assert dt < 240


def test_opq_rotation_50k_vectors(spark):
    """OPQ fit at 50k x 64-d vectors: ONE corpus pass (the d²-bounded
    gram tree-aggregate) + driver eigh; rotation orthonormal; the
    rotated-PQ search returns the full top-k contract."""
    import time

    import numpy as np
    from radmapper_spark.operators import similarity

    n, d = 50_000, 64
    emb = (spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(d)),
            lambda i: (F.pmod(F.xxhash64("id", i), 2001) - 1000)
            / 1000.0).alias("embedding"))
        .repartition(16).persist())
    emb.count()
    try:
        t0 = time.monotonic()
        R, cnt = similarity.opq_rotation(emb, m=16)
        fit_dt = time.monotonic() - t0
        assert cnt == n and R.shape == (d, d)
        assert np.abs(R @ R.T - np.eye(d)).max() < 1e-9
        q = emb.limit(3).select(F.col("vec_id").alias("qid"), "embedding")
        t0 = time.monotonic()
        out = similarity.opq_topk(emb, q, k=10, m=16, ksub=16, rerank=8,
                                  rotation=(R, cnt))
        rows = out.collect()
        search_dt = time.monotonic() - t0
        print(f"  opq 50k: fit {fit_dt:.1f}s, search {search_dt:.1f}s")
        assert len(rows) == 30
        assert fit_dt < 120 and search_dt < 180
    finally:
        emb.unpersist()


def test_lm_score_500k_docs(spark, big_docs):
    """CCNet LM scoring at 500k docs / ~20M positions: the model lookup
    is broadcast (the corpus is never shuffled at position grain — the
    only corpus-keyed exchange is the final per-doc aggregate), and
    lp_micro is bit-identical across partitionings (BIGINT micro-nat
    sums). Moore-Lewis scores BOTH models in the same single corpus
    position pass (suffixed broadcast model tables) plus a
    TakeOrderedAndProject cut — measured 10.3s vs 20.1s for the
    two-pass form at this scale."""
    import time

    from radmapper_spark.operators import lm

    ref = big_docs.filter(F.col("source").isin("src0", "src1"))
    out_ref = big_docs.filter(F.col("source").isin("src2", "src3"))
    t0 = time.monotonic()
    scored = lm.lm_score(big_docs, ref, top_v=500)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "corpus lookup fell to SMJ"
    agg = scored.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("lp_micro").alias("lp"),
                     F.sum("n_oov").alias("oov")).collect()[0]
    dt = time.monotonic() - t0
    print(f"  lm_score 500k docs: {dt:.1f}s "
          f"(n={agg.n}, oov={agg.oov})")
    assert agg.n == 500_000  # every doc has >= 10 tokens
    again = (lm.lm_score(big_docs.repartition(7), ref, top_v=500)
             .agg(F.sum("lp_micro").alias("lp")).collect()[0])
    assert agg.lp == again.lp, "lp_micro sum drifted with partitioning"
    assert dt < 300

    t0 = time.monotonic()
    sel = lm.moore_lewis_select(big_docs, ref, out_ref, k=150, top_v=500)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = sel.collect()
    dt = time.monotonic() - t0
    print(f"  moore_lewis_select 500k docs: {dt:.1f}s")
    assert len(rows) == 150
    assert [r.sel_rank for r in
            sorted(rows, key=lambda r: r.sel_rank)] == list(range(1, 151))


def test_repeated_spans_500k_docs(spark, big_docs):
    """Repeated-span pairs at 500k docs (~20M tokens): the r10 Arrow
    window-explode kernel (O(tokens) offset slicing) and the Catalyst
    expression form produce identical pair sets at scale, and the
    df-bounded bucket design keeps the self-join priced by shared-span
    buckets, never all-pairs."""
    import time

    from radmapper_spark.operators import dedup

    # 500k random-vocab docs make almost every 15-token span unique
    # (df < 2) — use 8-token spans over a slice so shared spans exist
    docs = big_docs.filter(F.col("doc_id") % 10 == 0)  # 50k docs
    t0 = time.monotonic()
    a = dedup.repeated_span_pairs(docs, span_tokens=8, span_mode="arrow")
    rows_a = sorted(map(tuple, a.collect()))
    dt = time.monotonic() - t0
    print(f"  repeated_span_pairs[arrow] 50k docs: {len(rows_a)} pairs "
          f"{dt:.1f}s")
    assert dt < 240
    rows_b = sorted(map(tuple, dedup.repeated_span_pairs(
        docs, span_tokens=8, span_mode="catalyst").collect()))
    assert rows_a == rows_b, "arrow/catalyst span explode diverged at scale"


def test_apply_removal_spans_50k_docs(spark, big_docs):
    """r11: the scrub fold at 50k docs — removal spans computed and
    APPLIED in one composed plan; the interval-array join and the
    Catalyst gap-concat fold stay linear."""
    import time

    from radmapper_spark.operators import dedup

    docs = big_docs.filter(F.col("doc_id") % 10 == 0)  # 50k docs
    t0 = time.monotonic()
    spans = dedup.substring_removal_spans(docs, span_tokens=8,
                                          min_doc_freq=2)
    out = dedup.apply_removal_spans(docs, spans)
    row = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_cut").alias("cuts"),
        F.sum("n_chars_cut").alias("chars"),
        F.sum(F.length("clean_text")).alias("kept")).collect()[0]
    dt = time.monotonic() - t0
    print(f"  apply_removal_spans 50k docs: {row['n']} docs, "
          f"{row['cuts']} cuts, {row['chars']} chars cut {dt:.1f}s")
    assert row["n"] == 50_000 and row["cuts"] > 0
    assert dt < 240
    # conservation: kept + cut == total normalized length
    total = docs.select(
        F.sum(F.length(F.regexp_replace(F.trim(F.lower("text")),
                                        r"\s+", " ")))).collect()[0][0]
    assert row["kept"] + row["chars"] == total


def test_phash_neardup_500k_media(spark, big_docs):
    """r11: perceptual-hash near-dup at 500k binary payloads — the
    map-only Arrow hash pass plus the 4-band Hamming join. The
    random-vocab corpus yields constant-bounded band buckets, so the
    join is candidate-priced."""
    import time

    from radmapper_spark.operators import multimodal as mm

    media = big_docs.select(F.col("doc_id").alias("media_id"),
                            F.encode("text", "UTF-8").alias("payload"))
    t0 = time.monotonic()
    pairs = mm.phash_neardup_pairs(media, max_hamming=2)
    n = pairs.count()
    dt = time.monotonic() - t0
    print(f"  phash_neardup 500k media: {n} pairs {dt:.1f}s")
    assert dt < 300
    # exact-duplicate payloads must appear (hamming 0 recall is exact)
    assert n > 0


def test_bpe_500k_docs(spark, big_docs):
    """r11: BPE train+apply at 500k docs (~20M tokens): training is one
    word-freq aggregate + a 256-row collect; application is the
    map-only replace fold. Exactness probe: token counts are bounded
    below by ceil(word tokens) and above by character counts."""
    import time

    from radmapper_spark.operators import tokenizer as tk

    t0 = time.monotonic()
    merges = tk.bpe_train(big_docs, n_merges=16, top_words=256)
    t1 = time.monotonic()
    counts = tk.bpe_token_counts(big_docs, merges)
    row = counts.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("n_words").alias("w"),
                     F.sum("n_tokens").alias("t")).collect()[0]
    t2 = time.monotonic()
    print(f"  bpe 500k docs: train {t1 - t0:.1f}s, "
          f"apply {row['w']} words -> {row['t']} tokens {t2 - t1:.1f}s")
    assert len(merges) == 16
    assert row["n"] == 500_000
    # every word is >= 1 token, so tokens can never undercount words
    assert row["w"] <= row["t"]
    assert t2 - t0 < 300


def test_bpe_chunks_500k_docs(spark, big_docs):
    """r11: exact-token chunking at 500k docs — the token-array fold +
    window explode stays map-only; every non-tail chunk is exactly the
    budget."""
    import time

    from radmapper_spark.operators import tokenizer as tk

    merges = tk.bpe_train(big_docs, n_merges=16, top_words=256)
    t0 = time.monotonic()
    chunks = tk.bpe_chunk_documents(big_docs, merges, chunk_tokens=64)
    row = chunks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chunk_tokens").alias("t"),
        F.sum(F.when(F.col("n_chunk_tokens") == 64, 1).otherwise(0))
        .alias("full")).collect()[0]
    dt = time.monotonic() - t0
    print(f"  bpe_chunks 500k docs: {row['n']} chunks, {row['t']} tokens, "
          f"{row['full']} full {dt:.1f}s")
    # exactly one non-full (tail) chunk per doc at most
    assert row["n"] - row["full"] <= 500_000
    # total chunked tokens == total corpus tokens (no loss, no overlap)
    counts = tk.bpe_token_counts(big_docs, merges)
    assert row["t"] == counts.agg(F.sum("n_tokens")).collect()[0][0]
    assert dt < 300


def test_nb_classifier_500k_docs(spark, big_docs):
    """r12: NB quality classifier at 500k docs (~20M tokens). The
    scoring lookup is ONE broadcast join (the model table carries both
    class counts); the only corpus-keyed exchange is the per-doc
    aggregate, and score_micro sums are bit-identical across
    partitionings (BIGINT micro-nat floors). The Pareto admission is
    map-only and its kept set is partitioning-independent too (pure
    function of score + portable hash)."""
    import time

    from radmapper_spark.operators import classifier

    pos = big_docs.filter(F.col("source").isin("src0", "src1"))
    neg = big_docs.filter(~F.col("source").isin("src0", "src1"))
    t0 = time.monotonic()
    scored = classifier.nb_score(big_docs, pos, neg, top_v=500)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # the corpus-side token lookup must be the broadcast join; the only
    # SortMergeJoins allowed are the two bounded training
    # instantiations of the vocab full-outer count join
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") <= 2
    agg = scored.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("score_micro").alias("s")).collect()[0]
    dt = time.monotonic() - t0
    print(f"  nb_score 500k docs: {dt:.1f}s (n={agg.n})")
    assert agg.n == 500_000  # every doc has >= 10 tokens
    again = (classifier.nb_score(big_docs.repartition(7), pos, neg,
                                 top_v=500)
             .agg(F.sum("score_micro").alias("s")).collect()[0])
    assert agg.s == again.s, "score_micro drifted with partitioning"
    assert dt < 300

    t0 = time.monotonic()
    kept = classifier.pareto_filter(scored).count()
    kept2 = classifier.pareto_filter(
        classifier.nb_score(big_docs.repartition(13), pos, neg,
                            top_v=500)).count()
    dt = time.monotonic() - t0
    print(f"  pareto_filter 500k docs: kept {kept} in {dt:.1f}s")
    assert kept == kept2
    assert 0 < kept < 500_000
    assert dt < 300


def test_embedding_decontam_200k_vectors(spark):
    """r12: semantic decontamination at 200k corpus vectors x 512
    benchmark rows — the benchmark broadcasts, the pair stream is
    threshold-filtered before the aggregate, and the corpus side never
    sort-merge-shuffles."""
    import time

    from radmapper_spark.operators import decontam

    dim = 16
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0
                   - F.lit(1.0)).cast("float"))
    corpus = spark.range(200_000).select(
        F.col("id").alias("vec_id"), vec.alias("embedding"))
    bench = spark.range(1_000_000, 1_000_512).select(
        F.col("id").alias("vec_id"), vec.alias("embedding"))
    # plant exact copies so the flag set is non-empty by construction
    planted = corpus.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding")
    t0 = time.monotonic()
    out = decontam.embedding_decontam(corpus, bench.union(planted),
                                      threshold=0.95)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = out.collect()
    dt = time.monotonic() - t0
    print(f"  embedding_decontam 200k x 520: {len(rows)} flagged "
          f"in {dt:.1f}s")
    flagged = {r["vec_id"] for r in rows}
    assert set(range(8)) <= flagged  # the planted copies all flag at 1.0
    assert dt < 300


def test_corpus_shuffle_2m_rows(spark):
    """r12: deterministic global shuffle at 2M rows — the one
    legitimate global sort in the pipeline, on an 8-byte key: range
    exchange + P-row offsets, exact 1..n permutation, exact shard
    sizes."""
    import time

    from radmapper_spark.operators import sampling

    n, shard = 2_000_000, 4096
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    t0 = time.monotonic()
    out = sampling.corpus_shuffle(df, "doc_id", shard_size=shard)
    agg = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("shuffle_rank").alias("ranks"),
        F.min("shuffle_rank").alias("lo"),
        F.max("shuffle_rank").alias("hi"),
        F.sum(F.when((F.col("shard_pos") < 0)
                     | (F.col("shard_pos") >= shard), 1)
              .otherwise(0)).alias("bad_pos")).collect()[0]
    full = (out.groupBy("shard").count()
            .filter((F.col("count") != shard)
                    & (F.col("shard") != (n - 1) // shard)).count())
    dt = time.monotonic() - t0
    print(f"  corpus_shuffle 2M rows: {dt:.1f}s")
    assert (agg.rows, agg.ranks, agg.lo, agg.hi, agg.bad_pos) \
        == (n, n, 1, n, 0)
    assert full == 0  # every non-tail shard exactly shard_size
    assert dt < 120


def test_training_shard_write_1m_rows(spark, tmp_path_factory):
    """r13: the materialized shard ARTIFACT at >=1M rows — write the
    shuffled+sharded frame as hive-partitioned parquet, read it back,
    and prove (a) shard-size exactness survives the write (every
    non-tail shard directory holds exactly shard_size rows), (b) order
    determinism: an independent recomputation of the permutation
    assigns every id the identical rank the files hold, and (c) the
    physical within-file order is shard_pos on a sampled shard."""
    import glob
    import os
    import time

    import pyarrow.parquet as pq

    from radmapper_spark.operators import sampling
    from radmapper_spark.sources import writers

    n, shard = 1_200_000, 4096
    df = spark.range(n).selectExpr("id * 3 + 1 AS chunk_id",
                                   "id % 997 AS payload")
    path = str(tmp_path_factory.mktemp("shards") / "train")
    t0 = time.monotonic()
    out = sampling.corpus_shuffle(df, "chunk_id", shard, salt="stress")
    writers.write_training_shards(out, path)
    dt_w = time.monotonic() - t0
    back = spark.read.parquet(path)
    t0 = time.monotonic()
    # (a) exactness after the roundtrip
    agg = back.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("shuffle_rank").alias("ranks"),
        F.min("shuffle_rank").alias("lo"),
        F.max("shuffle_rank").alias("hi")).collect()[0]
    assert (agg.rows, agg.ranks, agg.lo, agg.hi) == (n, n, 1, n)
    bad = (back.groupBy("shard").count()
           .filter((F.col("count") != shard)
                   & (F.col("shard") != (n - 1) // shard)).count())
    assert bad == 0
    # (b) order determinism: recompute, every rank identical
    out2 = sampling.corpus_shuffle(df, "chunk_id", shard, salt="stress")
    mismatch = (back.select("chunk_id",
                            F.col("shuffle_rank").alias("r_disk"))
                .join(out2.select("chunk_id", "shuffle_rank"), "chunk_id")
                .filter(F.col("r_disk") != F.col("shuffle_rank")).count())
    assert mismatch == 0
    dt_v = time.monotonic() - t0
    # (c) physical order inside a sampled shard file
    d = sorted(glob.glob(os.path.join(path, "shard=7")))[0]
    f = [os.path.join(d, x) for x in os.listdir(d)
         if x.endswith(".parquet")]
    assert len(f) == 1
    pos = pq.read_table(f[0], columns=["shard_pos"])["shard_pos"] \
        .to_pylist()
    assert pos == list(range(shard))
    print(f"  training-shard write 1.2M rows: write {dt_w:.1f}s, "
          f"verify {dt_v:.1f}s, {(n - 1) // shard + 1} shard dirs")
    assert dt_w < 180


def test_global_cumsum_2m_rows(spark):
    """r13: exact global running total at 2M rows — the budget cut's
    engine. The full prefix-sum is verified STRUCTURALLY (the windowed
    reference is unrunnable at this scale by design): the final
    cumulative value equals the exact total, ranks are the exact
    1..n permutation, per-rank deltas are the row weights (spot-checked
    via a self-join on adjacent ranks over a 1k-rank stripe), and the
    plan never funnels the data through a single-partition window."""
    import time

    from radmapper_spark.operators.ranking import global_cumsum

    n = 2_000_000
    df = spark.range(n).select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), 1000) + 1).alias("w"))
    total = df.agg(F.sum("w")).collect()[0][0]
    t0 = time.monotonic()
    out = global_cumsum(df, [F.col("id").asc()], "w",
                        cum_col="cum", rank_col="rk")
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("_rm_pid" in ln for ln in win_lines)
    agg = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("rk").alias("ranks"),
        F.max("cum").alias("hi"),
        F.min(F.col("cum") - F.col("w")).alias("lo")).collect()[0]
    assert (agg.rows, agg.ranks, agg.hi, agg.lo) == (n, n, total, 0)
    # adjacency: cum[rk] - cum[rk-1] == w[rk] on a mid-stream stripe
    stripe = out.filter((F.col("rk") >= 1_000_000)
                        & (F.col("rk") < 1_001_000))
    a, b = stripe.alias("a"), stripe.alias("b")
    bad = (a.join(b, F.col("a.rk") == F.col("b.rk") + 1)
           .filter(F.col("a.cum") - F.col("b.cum") != F.col("a.w"))
           .count())
    dt = time.monotonic() - t0
    print(f"  global_cumsum 2M rows: {dt:.1f}s")
    assert bad == 0
    assert dt < 120


def test_token_budget_select_1m_rows(spark):
    """r13: the budget cut at 1M rows — kept set is a contiguous rank
    prefix, its total spends the budget maximally (adding the next
    row's weight overflows), and nothing above the cut is kept."""
    import time

    from radmapper_spark.operators import sampling

    n = 1_000_000
    df = spark.range(n).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), 10 ** 6).alias("score"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 512) + 1).alias("w"))
    budget = 60_000_000  # ~ a quarter of the expected total
    t0 = time.monotonic()
    out = sampling.token_budget_select(
        df, budget, [F.col("score").desc(), F.col("id").asc()], "w")
    agg = out.agg(
        F.count(F.lit(1)).alias("kept"),
        F.max("select_rank").alias("hi_rank"),
        F.max("cum_tokens").alias("spent"),
        F.sum("w").alias("wsum")).collect()[0]
    dt = time.monotonic() - t0
    print(f"  token_budget_select 1M rows: kept={agg.kept} "
          f"spent={agg.spent} {dt:.1f}s")
    assert agg.kept >= 1
    assert agg.hi_rank == agg.kept          # contiguous prefix
    assert agg.spent == agg.wsum <= budget  # running total is the sum
    # maximality: the kept prefix + the next row's minimum possible
    # weight (1) must overflow only if a dropped row exists; with
    # w <= 512 the spent budget is within one max-weight of the line
    assert agg.spent > budget - 513
    assert dt < 120


def test_mixture_temperature_1m_rows(spark):
    """r13: temperature allocation at 1M rows over a skewed group
    column — the weight table stays bounded (one row per group), the
    targets sum exactly to k, and the kept set is the per-group rank
    prefix."""
    import time

    from radmapper_spark.operators import sampling

    n, k = 1_000_000, 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"),
                 F.floor(F.log2(F.col("id") + 2)).cast("int"))
        .alias("g"))  # exponentially skewed group sizes
    t0 = time.monotonic()
    out = sampling.mixture_temperature(df, "g", "doc_id", k, alpha=0.5)
    rows = (out.groupBy("g")
            .agg(F.count(F.lit(1)).alias("kept"),
                 F.max("target_n").alias("target"),
                 F.max("mix_rank").alias("hi"))
            .collect())
    dt = time.monotonic() - t0
    print(f"  mixture_temperature 1M rows, {len(rows)} groups: {dt:.1f}s")
    assert sum(r.target for r in rows) == k
    for r in rows:
        assert r.kept == min(r.target, r.hi)
        assert r.hi <= r.target  # prefix: max kept rank <= target
    assert dt < 120


def test_curriculum_order_1m_rows(spark):
    """r13: the two-sort curriculum at 1M rows — exact ntile stage
    sizes, stage-contiguous global ranks (stage boundaries = exact
    cumulative stage sizes), exact 1..n rank permutation, pid-keyed
    windows only."""
    import time

    from radmapper_spark.operators import sampling

    n, stages = 1_000_000, 5
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), 10 ** 7).alias("diff"))
    t0 = time.monotonic()
    out = sampling.curriculum_order(
        df, [F.col("diff").asc(), F.col("doc_id").asc()], stages,
        "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert win_lines and all("_rm_pid" in ln for ln in win_lines)
    stats = (out.groupBy("stage")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.min("curriculum_rank").alias("lo"),
                  F.max("curriculum_rank").alias("hi"))
             .orderBy("stage").collect())
    ranks = out.agg(F.countDistinct("curriculum_rank").alias("d"),
                    F.min("curriculum_rank").alias("lo"),
                    F.max("curriculum_rank").alias("hi")).collect()[0]
    dt = time.monotonic() - t0
    print(f"  curriculum_order 1M x {stages}: {dt:.1f}s")
    base, rem = divmod(n, stages)
    assert [r.n for r in stats] == [base + 1] * rem + [base] * (stages - rem)
    acc = 0
    for r in stats:
        assert r.lo == acc + 1 and r.hi == acc + r.n  # contiguous
        acc += r.n
    assert (ranks.d, ranks.lo, ranks.hi) == (n, 1, n)
    assert dt < 150


def test_keep_best_1m_members(spark):
    """r13: keep_best over 1M scored members in ~100k components
    (~10 members each) — one winner per component, winner has the
    component's max score, n_members sums back to the member count."""
    import time

    from radmapper_spark.operators import dedup

    n = 1_000_000
    members = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id"), 100_000).alias("component"))
    scored = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64("id", F.lit(7)), 10 ** 9).alias("score_micro"))
    t0 = time.monotonic()
    out = dedup.keep_best(members, scored)
    agg = out.agg(F.count(F.lit(1)).alias("winners"),
                  F.countDistinct("component").alias("comps"),
                  F.sum("n_members").alias("members")).collect()[0]
    # winner score == the component max (verified on a 1k-component slice)
    slice_out = out.filter(F.col("component") < 1000)
    true_max = (members.join(scored, "doc_id")
                .filter(F.col("component") < 1000)
                .groupBy("component").agg(F.max("score_micro").alias("m")))
    bad = (slice_out.join(true_max, "component")
           .filter(F.col("score_micro") != F.col("m")).count())
    dt = time.monotonic() - t0
    print(f"  keep_best 1M members / {agg.comps} components: {dt:.1f}s")
    assert agg.winners == agg.comps and agg.members == n
    assert bad == 0
    assert dt < 150


def test_clean_holdout_1m_docs(spark):
    """r13: the decontaminated holdout at 1M docs / 200k pairs — the
    pair frame is scanned once (single explode branch in the plan),
    and the output equals holdout-split docs minus offender endpoints
    (checked by set algebra on the aggregate counts)."""
    import time

    from radmapper_spark.operators import sampling

    n = 1_000_000
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = (spark.range(200_000)
             .select(F.pmod(F.xxhash64("id"), n).alias("id_a"),
                     F.pmod(F.xxhash64("id", F.lit(3)), n).alias("id_b"))
             .filter(F.col("id_a") != F.col("id_b")))
    t0 = time.monotonic()
    out = sampling.clean_holdout(docs, pairs)
    n_clean = out.count()
    n_test = docs.filter(
        sampling.split_expr("doc_id") == "test").count()
    sa = sampling.split_expr("id_a")
    sb = sampling.split_expr("id_b")
    offenders = (pairs.select(
        F.when((sa == "test") & (sb == "train"), F.col("id_a"))
        .otherwise(F.when((sb == "test") & (sa == "train"),
                          F.col("id_b"))).alias("x"))
        .filter(F.col("x").isNotNull()).distinct().count())
    # offenders computed via when/otherwise keeps one id per row; rows
    # can offend in only one direction (a pair is test/train or
    # train/test, never both), so the count is exact
    dt = time.monotonic() - t0
    print(f"  clean_holdout 1M docs: test={n_test} "
          f"offenders={offenders} clean={n_clean} {dt:.1f}s")
    assert n_clean == n_test - offenders
    assert 0 < offenders < n_test
    assert dt < 150


def test_token_budget_per_group_1m_rows(spark):
    """r13: the per-group budget cut at 1M rows / 1k groups — every
    group's kept set is a contiguous rank prefix whose total is within
    budget and maximal (next weight would overflow), fully parallel
    (one hash shuffle, partitioned windows only)."""
    import time

    from radmapper_spark.operators import sampling

    n, budget = 1_000_000, 50_000
    df = spark.range(n).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), 1000).alias("g"),
        F.pmod(F.xxhash64("id", F.lit(5)), 10 ** 6).alias("s"),
        (F.pmod(F.xxhash64("id", F.lit(9)), 512) + 1).alias("w"))
    t0 = time.monotonic()
    out = sampling.token_budget_select_per_group(
        df, "g", budget, [F.col("s").desc(), F.col("id").asc()], "w")
    per = (out.groupBy("g")
           .agg(F.count(F.lit(1)).alias("kept"),
                F.max("select_rank").alias("hi"),
                F.max("cum_tokens").alias("spent")).collect())
    dt = time.monotonic() - t0
    print(f"  token_budget_per_group 1M rows / {len(per)} groups: "
          f"{dt:.1f}s")
    assert len(per) == 1000
    for r in per:
        assert r.kept == r.hi                  # contiguous prefix
        assert r.spent <= budget
        assert r.spent > budget - 513          # maximal (w <= 512)
    assert dt < 120
