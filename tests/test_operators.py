"""Operator-level tests: dedup/similarity/textstats/multimodal/streaming."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radmapper_spark.operators import dedup, multimodal, similarity, textstats
from radmapper_spark.streaming import windows as W


def test_exact_dedup_counts(spark, tables):
    docs = tables["documents"]
    total = docs.count()
    groups = dedup.exact_dedup(docs)
    assert groups.agg(F.sum("n_copies")).collect()[0][0] == total
    kept = dedup.exact_dedup_keep(docs)
    assert kept.count() == groups.count()


def test_minhash_lsh_finds_duplicated_docs(spark, tables):
    """Construct exact duplicates and check LSH finds them at threshold 1."""
    docs = tables["documents"].limit(20)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    pairs = dedup.minhash_lsh_pairs(both, jaccard_threshold=0.99)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    ids = [r["doc_id"] for r in docs.collect()]
    missing = [(i, i + 100000) for i in ids if (i, i + 100000) not in found]
    assert not missing, f"LSH missed exact duplicates {missing[:3]}"


def test_simhash_identical_docs_same_hash(spark, tables):
    docs = tables["documents"].limit(10)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    sh = dedup.simhash(docs.unionByName(dup))
    rows = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    for i in list(rows)[:10]:
        if i < 100000 and i + 100000 in rows:
            assert rows[i] == rows[i + 100000]


def test_simhash_pairs_recall_vs_bruteforce(spark, tables):
    """Banded simhash (4×16-bit tables) must find EVERY pair within
    Hamming<=3 — the pigeonhole guarantee — verified against brute-force
    popcount over all fingerprint pairs."""
    docs = tables["documents"].limit(60)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(both).collect()}
    truth = {(a, b) for a in fps for b in fps
             if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3}
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_pairs(both, max_hamming=3).collect()}
    assert truth, "test corpus has no hamming<=3 pair (exact dups expected)"
    assert got == truth, f"missed={truth - got} extra={got - truth}"


def test_ngram_jaccard_self_pair_is_one(spark, tables):
    docs = tables["documents"].limit(5)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    cand = docs.select(F.col("doc_id").alias("id_a"),
                       (F.col("doc_id") + 100000).alias("id_b"))
    pairs = dedup.ngram_jaccard_pairs(both, n=3, threshold=0.0, candidates=cand)
    for r in pairs.collect():
        assert abs(r["jaccard"] - 1.0) < 1e-9


def test_embedding_cosine_lsh_recall(spark, tables):
    """embedding_cosine_pairs (the exact cosine_join self-join, no LSH
    stage) returns exactly the pairs >= threshold that an in-test
    Catalyst brute-force scan finds on the deterministic fixture."""
    emb = tables["embeddings"]
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_cosine_pairs(
               emb, threshold=0.45).collect()}
    v = emb.select(F.col("vec_id").alias("id"),
                   F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda s: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(s), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    true = {(r["id_a"], r["id_b"]) for r in
            a.crossJoin(b)
            .filter(F.col("a.id") < F.col("b.id"))
            .withColumn("cos", dot / (nrm("a.v") * nrm("b.v")))
            .filter(F.col("cos") >= 0.45)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .collect()}
    assert true, "fixture should exercise the threshold"
    assert lsh == true, f"kernel/brute-force mismatch: {true ^ lsh}"


def _np_pairs(ids_a, va, ids_b, vb, threshold, self_join):
    """Reference for cosine_join: float64 dot over the norm product of
    every pair, as {(id_a, id_b): cosine}."""
    import numpy as np
    out = {}
    for i, x in zip(ids_a, va):
        for j, y in zip(ids_b, vb):
            if self_join and not i < j:
                continue
            c = float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))
            if threshold is None or c >= threshold:
                out[(i, j)] = c
    return out


def _join_rows(out):
    rows = [(r.id_a, r.id_b, r.cosine) for r in out.collect()]
    got = {(a, b): c for a, b, c in rows}
    assert len(got) == len(rows), "duplicate pairs"
    return got


def _assert_same(got, want):
    assert got.keys() == want.keys(), set(got) ^ set(want)
    assert all(abs(got[p] - want[p]) < 1e-12 for p in want)


@pytest.mark.parametrize("extra", [-1, 0, 1, 37])
def test_cosine_join_matches_numpy(spark, extra):
    """dedup.cosine_join against a numpy brute force on seeded vectors,
    with the row count below, at and above the block count: the
    self-join gives each pair once as id_a < id_b with no self pair,
    the two-sided join every (left, right) pair, and a threshold None
    every pair."""
    import numpy as np
    nblk = spark.sparkContext.defaultParallelism
    n = max(nblk + extra, 1)
    rng = np.random.default_rng(n)
    v = rng.normal(size=(n, 12))
    w = rng.normal(size=(n // 2 + 3, 12))
    ids, qids = [int(i) * 7 + 3 for i in range(n)], list(range(len(w)))
    left = spark.createDataFrame(
        [(i, x.tolist()) for i, x in zip(ids, v)], "id long, v array<double>")
    right = spark.createDataFrame(
        [(i, x.tolist()) for i, x in zip(qids, w)],
        "qid long, v array<double>")

    got = _join_rows(dedup.cosine_join(left, threshold=0.1))
    assert all(a < b for a, b in got)
    _assert_same(got, _np_pairs(ids, v, ids, v, 0.1, True))
    _assert_same(_join_rows(dedup.cosine_join(left)),
                 _np_pairs(ids, v, ids, v, None, True))
    _assert_same(_join_rows(dedup.cosine_join(left, right, -0.2)),
                 _np_pairs(ids, v, qids, w, -0.2, False))
    _assert_same(_join_rows(dedup.cosine_join(left, right)),
                 _np_pairs(ids, v, qids, w, None, False))
    assert dedup.cosine_join(left, right.limit(0)).count() == 0


def test_cosine_join_keeps_pair_at_threshold(spark):
    """A cosine exactly at the threshold is kept: (1, 0) vs (3, 4) is
    3/5 in float64 on both sides of the comparison."""
    df = spark.createDataFrame([(1, [1.0, 0.0]), (2, [3.0, 4.0]),
                                (3, [0.0, 1.0])],
                               "id long, v array<float>")
    assert {(r.id_a, r.id_b): r.cosine
            for r in dedup.cosine_join(df, threshold=0.6).collect()} \
        == {(1, 2): 0.6, (2, 3): 0.8}
    q = spark.createDataFrame([(9, [1.0, 0.0])], "qid long, v array<float>")
    assert sorted((r.id_a, r.id_b, r.cosine)
                  for r in dedup.cosine_join(df, q, 0.6).collect()) \
        == [(1, 9, 1.0), (2, 9, 0.6)]


def test_cosine_join_rows_equal_with_and_without_stats(spark, tables,
                                                       tmp_path):
    """The same rows read from parquet (real plan stats) and built with
    createDataFrame (no stats), and spread over different partition
    counts, give the same pairs: the block a row lands in depends on
    its id only."""
    emb = tables["embeddings"].select("vec_id", "embedding")
    emb.write.parquet(str(tmp_path / "emb"))
    from_parquet = spark.read.parquet(str(tmp_path / "emb"))
    local = spark.createDataFrame(
        [tuple(r) for r in emb.collect()],
        "vec_id long, embedding array<float>").repartition(7)
    rows = [{(r.id_a, r.id_b, round(r.cosine, 9))
             for r in dedup.cosine_join(f, threshold=0.45).collect()}
            for f in (from_parquet, local)]
    assert rows[0], "no pairs above the threshold — test is vacuous"
    assert rows[0] == rows[1]


@pytest.mark.parametrize("bad", [None, [1.0, 2.0]])
def test_cosine_join_rejects_null_or_ragged_vector(spark, bad):
    """A NULL or wrong-length vector raises, in a self-join and in a
    two-sided join, whichever block it lands in; so does a right side
    whose vectors are all of another length than the left's."""
    good = [(i, [float(i), 1.0, -0.5]) for i in range(6)]
    df = spark.createDataFrame(good + [(99, bad)], "id long, v array<double>")
    with pytest.raises(Exception, match="cosine_join: NULL or ragged"):
        dedup.cosine_join(df, threshold=0.0).collect()
    q = spark.createDataFrame([(0, [1.0, 1.0, 1.0])],
                              "qid long, v array<double>")
    with pytest.raises(Exception, match="cosine_join: NULL or ragged"):
        dedup.cosine_join(df, q).collect()
    q2 = spark.createDataFrame([(0, [1.0, 1.0])], "qid long, v array<double>")
    with pytest.raises(Exception, match="cosine_join: ragged"):
        dedup.cosine_join(df.limit(6), q2).collect()


def test_embedding_near_dup_dirty_vectors_drop_or_raise(spark, tmp_path):
    """A NULL and a wrong-dimension vector through each operator that
    ends in the shared pair-cosine kernel: semantic_dedup_pairs drops
    them, while embedding_cosine_pairs (cosine_join) and
    neardup_embedding_vs_index (sign_lsh_base) reject the dirty rows
    before a drop rule could silently lose pairs. One input partition,
    so sign_lsh_base's round-robin spread leaves every dirty row in a
    batch with other rows."""
    import random
    rng = random.Random(11)
    clean = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(32)]
    schema = "vec_id long, embedding array<double>"
    dirty = spark.createDataFrame(
        clean + [(100, None), (101, [1.0, 2.0])], schema).coalesce(1)

    asg = dirty.selectExpr("vec_id", "CAST(0 AS BIGINT) AS cluster")
    sem = similarity.semantic_dedup_pairs(dirty, threshold=0.0, asg=asg)
    ids = {i for r in sem.collect() for i in (r.id_a, r.id_b)}
    assert ids and not ids & {100, 101}

    with pytest.raises(Exception, match="cosine_join"):
        out = dedup.embedding_cosine_pairs(dirty, threshold=0.0)
        try:
            out.collect()
        finally:
            out.rm_release_cache()

    path = str(tmp_path / "idx")
    dedup.build_signlsh_index(spark.createDataFrame(clean, schema), path)
    with pytest.raises(Exception, match="sig_sketch"):
        out = dedup.neardup_embedding_vs_index(dirty, path, threshold=0.0)
        try:
            out.collect()
        finally:
            out.rm_release_cache()


def test_embedding_lsh_candidate_volume_subquadratic(spark):
    """Scale regression: at production params (r=16 planes/band, b=24,
    cos >= 0.9) the banded candidate join volume on a 10k-vector set must
    stay a tiny fraction of all-pairs — the property that makes the
    operator a narrow bucketed equi-join at 100 TB instead of a quadratic
    shuffle. The batch operator embedding_cosine_pairs (exact, no LSH)
    must recover the planted near-dup pairs."""
    import numpy as np
    n, dim, nplanted = 10_000, 32, 250
    rng = np.random.default_rng(7)
    base = rng.normal(size=(n, dim))
    # plant near-dups: rows i and i+nplanted are tiny perturbations
    # (cosine ~0.97) of the same vector
    base[nplanted:2 * nplanted] = (base[:nplanted]
                                   + 0.18 * rng.normal(size=(nplanted, dim)))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id bigint, embedding array<double>").repartition(8)

    sigs = dedup.sign_lsh_base(emb, bands=24, planes_per_band=16)
    buckets = (sigs.select(F.posexplode("bb").alias("band", "sig"))
               .groupBy("band", "sig").count())
    volume = buckets.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("v")
    ).head()["v"]
    all_pairs = n * (n - 1) / 2
    assert volume < 0.002 * all_pairs, \
        f"candidate join volume {volume} is not sub-quadratic vs {all_pairs}"

    pairs = dedup.embedding_cosine_pairs(emb, threshold=0.9)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    pairs.rm_release_cache()
    truth = {(i, i + nplanted) for i in range(nplanted)
             if float(base[i] @ base[i + nplanted]
                      / (np.linalg.norm(base[i])
                         * np.linalg.norm(base[i + nplanted]))) >= 0.9}
    assert len(truth) > 200, "fixture should plant enough true pairs"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.98, f"recall {recall} below production-grade target"


def test_jaccard_threshold_stays_out_of_join(spark):
    """Plan-shape regression for the verify pushdown barrier: the jaccard
    threshold must never end up in the join CONDITION (evaluated per probe
    row during the match — a measured ~4x on the verify hot loop). Breaks
    if a future optimizer learns to fold the barrier clause, as already
    happened to the old rand() < -1 spelling in pyspark 4.1."""
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h"[: 2 * (i % 8) + 1]) for i in range(50)],
        "doc_id bigint, text string")
    cand = docs.select(F.col("doc_id").alias("id_a"),
                       (F.col("doc_id") + 1).alias("id_b")).filter("id_b < 50")
    out = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.5, candidates=cand)
    plan = out._jdf.queryExecution().executedPlan().toString()
    leaks = [ln for ln in plan.splitlines()
             if "Join" in ln and ("array_intersect" in ln or "jaccard" in ln)]
    assert not leaks, f"jaccard predicate leaked into join condition: {leaks}"


def test_exact_dedup_no_hash_collision_merge(spark):
    """Distinct texts must never merge, whatever their hashes do."""
    rows = [(1, "alpha beta"), (2, "alpha  beta"), (3, "gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_brute_force_topk_self_is_rank1(spark, tables):
    emb = tables["embeddings"]
    q = emb.orderBy("vec_id").limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    top = similarity.brute_force_topk(emb, q, k=3)
    rank1 = {r["qid"]: r["cid"] for r in top.filter(F.col("rank") == 1).collect()}
    for qid, cid in rank1.items():
        assert qid == cid, "self should be nearest neighbor"


def test_ivf_recall_vs_brute_force(spark, tables):
    emb = tables["embeddings"]
    q = emb.orderBy("vec_id").limit(5).select(F.col("vec_id").alias("qid"), "embedding")
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.ivf_topk(emb, q, k=5, ncentroids=8, nprobe=4)
    e = {(r["qid"], r["cid"]) for r in exact.collect()}
    a = {(r["qid"], r["cid"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_pq_recall_and_code_shape(spark, tables):
    emb = tables["embeddings"]
    q = emb.orderBy("vec_id").limit(5).select(F.col("vec_id").alias("qid"), "embedding")
    exact = similarity.brute_force_topk(emb, q, k=10)
    approx = similarity.pq_topk(emb, q, k=10, m=16, ksub=16, rerank=12)
    e = {(r["qid"], r["cid"]) for r in exact.collect()}
    a = {(r["qid"], r["cid"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.85, f"PQ recall too low: {recall}"
    # the encoded representation is m small codes (the 100 TB story:
    # the ADC scan reads 16 bytes/row, not 256)
    books = similarity.train_pq_codebooks(emb, m=16, ksub=16)
    assert books.shape == (16, 16, 4)
    codes = emb.select(
        similarity._pq_encode_udf(books)(
            similarity._to_double(F.col("embedding"))).alias("codes"))
    row = codes.first()
    assert len(row["codes"]) == 16
    assert all(0 <= c < 16 for c in row["codes"])


def test_codebook_cache_hit_and_release(spark, tables):
    """A codebook fitted through session.memo is served from the memo on
    the second call (identical object, no recount/sample/fit), a param
    change refits, the PQ books' kind is untouched by the IVF refit, and
    a release forces a refit."""
    from radmapper_spark.session import memo, release_memos
    from tests.conftest import SF_SMOKE
    emb = tables["embeddings"]

    def ivf(n):
        return memo("test_ivf", spark, SF_SMOKE, (n,),
                    lambda: similarity.train_centroids(emb, ncentroids=n))

    def pq():
        return memo("test_pq", spark, SF_SMOKE, (16, 8),
                    lambda: similarity.train_pq_codebooks(emb, m=16, ksub=8))

    a, b = ivf(4), ivf(4)
    assert a is b, "second call should be a memo hit"
    p1 = pq()
    c = ivf(8)
    assert c is not a, "different params must not share a memo slot"
    assert pq() is p1, "an IVF refit must not evict the PQ books"
    assert release_memos("test_ivf") == 1
    d = ivf(4)
    assert d is not a, "a released codebook must be refitted"
    release_memos("test_")


def test_pq_rejects_indivisible_dim(spark, tables):
    """dim % m != 0 must fail loudly, not silently drop trailing dims."""
    import pytest as _pytest
    emb = tables["embeddings"]  # 64-dim fixtures
    with _pytest.raises(ValueError, match="divisible"):
        similarity.train_pq_codebooks(emb, m=6, ksub=8)


def test_pq_deterministic(spark, tables):
    emb = tables["embeddings"]
    q = emb.orderBy("vec_id").limit(3).select(F.col("vec_id").alias("qid"), "embedding")
    a = sorted(map(tuple, similarity.pq_topk(emb, q, k=5).collect()))
    b = sorted(map(tuple, similarity.pq_topk(emb, q, k=5).collect()))
    assert a == b


def test_lang_id_on_planted_text(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in the house"),
         (2, "der hund ist nicht auf der couch und das ist gut"),
         (3, "xyzzy qwerty")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_token_count_and_quality(spark):
    df = spark.createDataFrame([(1, "one two three four")], ["doc_id", "text"])
    tc = textstats.token_count(df).collect()[0]
    assert tc["n_tokens_ws"] == 4
    assert tc["n_tokens_bpe_est"] == 5  # ceil(18/4)
    q = textstats.quality_score(df).collect()[0]
    assert 0.0 <= q["quality"] <= 1.0


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"])
    fp = {r["doc_id"]: r["fp_hash"] for r in textstats.fingerprint(df).collect()}
    assert fp[1] == fp[2]      # normalization collapses case/whitespace
    assert fp[1] != fp[3]


# ---------------------------------------------------------- portable hashes

def test_portable_hash_matches_python_md5(spark):
    """ph60/ph28 must equal int(md5(s)[:n], 16) — the contract that makes
    the DuckDB oracles exact."""
    import hashlib

    from radmapper_spark.functions import portable_hash as PH

    vals = ["hello", "", "café au lait", "123", "a b  c"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = df.select("s", PH.ph60(F.col("s")).alias("h60"),
                    PH.ph28(F.col("s")).alias("h28")).collect()
    for r in got:
        hx = hashlib.md5(r["s"].encode("utf-8")).hexdigest()
        assert r["h60"] == int(hx[:15], 16)
        assert r["h28"] == int(hx[:7], 16)


def test_portable_minhash_finds_duplicated_docs(spark, tables):
    """Portable hash mode keeps the LSH recall property (exact dups found
    at threshold ~1) — same plan, different leaf hashes."""
    docs = tables["documents"].limit(20)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    pairs = dedup.minhash_lsh_pairs(both, jaccard_threshold=0.99,
                                    hash_mode="portable")
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    ids = [r["doc_id"] for r in docs.collect()]
    missing = [(i, i + 100000) for i in ids if (i, i + 100000) not in found]
    assert not missing, f"portable LSH missed exact duplicates {missing[:3]}"


def test_portable_simhash_pairs_recall_vs_bruteforce(spark, tables):
    """4x15-bit banded tables over the 60-bit portable fingerprint keep the
    pigeonhole completeness guarantee for hamming<=3."""
    docs = tables["documents"].limit(60)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    fps = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash(both, nbits=60, hash_mode="portable").collect()}
    assert all(v >= 0 for v in fps.values())  # portable fingerprints stay non-negative
    truth = {(a, b) for a in fps for b in fps
             if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3}
    got = {(r["id_a"], r["id_b"])
           for r in dedup.simhash_pairs(both, max_hamming=3, bands=4,
                                        band_bits=15, nbits=60,
                                        hash_mode="portable").collect()}
    assert truth, "test corpus has no hamming<=3 pair (exact dups expected)"
    assert got == truth, f"missed={truth - got} extra={got - truth}"


def test_portable_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"])
    out = textstats.fingerprint(df, hash_mode="portable").collect()
    fp = {r["doc_id"]: r["fp_hash"] for r in out}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_multimodal_feature_shape(spark):
    media = multimodal.synthesize_media(spark, 16)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 16
    for r in rows[:3]:
        assert len(r["feature"]) == 16
        assert len(r["sha256"]) == 64
        assert r["n_bytes"] > 0


def test_multimodal_frame_sample(spark):
    media = multimodal.synthesize_media(spark, 12)
    frames = multimodal.frame_sample(media, every_ms=1000)
    assert frames.count() >= media.filter(F.col("kind") == "video").count()


def test_tumbling_batch_totals(spark, tables):
    ev = tables["events"]
    agg = W.tumbling_counts(ev)
    assert agg.agg(F.sum("n_events")).collect()[0][0] == ev.count()


def test_session_windows_cover_all_events(spark, tables):
    ev = tables["events"]
    s = W.session_windows(ev)
    assert s.agg(F.sum("n_events")).collect()[0][0] == ev.count()


def test_stateful_running_totals_stream(spark, tmp_path):
    """The REAL applyInPandasWithState operator: a 3-file parquet stream
    (maxFilesPerTrigger=1 -> 3 micro-batches, so per-key state must carry
    ACROSS batches) whose final per-user state must equal the batch twin."""
    from radmapper_spark.session import load_tables
    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = t["events"].select("event_id", "ts", "user_id", "value").limit(300).cache()
    rows = ev.collect()
    src = str(tmp_path / "stream_in")
    for i in range(3):  # 3 files = 3 micro-batches
        chunk = rows[i * 100:(i + 1) * 100]
        spark.createDataFrame(chunk, ev.schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = W.running_user_totals_stream(stream)
    q = (out.writeStream.format("memory").queryName("rm_stateful_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # update mode re-emits a user's row each batch they appear in; the
    # FINAL state per user is the row with the highest running count
    final = spark.sql("""
        SELECT user_id, max_by(total_value, n_events) AS total_value,
               max(n_events) AS n_events
        FROM rm_stateful_totals GROUP BY user_id""").collect()
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6))
           for r in final}
    want = {r["user_id"]: (r["n"], round(r["tv"], 6)) for r in
            ev.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("tv")).collect()}
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0], f"user {u} count"
        assert abs(got[u][1] - want[u][1]) < 1e-6, f"user {u} total"
    ev.unpersist()


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark on a file stream: injected duplicate
    rows (same event_id, later file) must be dropped."""
    from radmapper_spark.session import load_tables
    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = t["events"].select("event_id", "ts", "user_id", "event_type",
                            "value").limit(100)
    rows = ev.collect()
    src = str(tmp_path / "dedup_in")
    spark.createDataFrame(rows, ev.schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows[:40], ev.schema).coalesce(1) \
        .write.mode("append").parquet(src)  # the echo: 40 dup event_ids
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = W.dedup_events(stream, key_cols=("event_id",),
                         watermark="10 days", streaming=True)
    q = (out.writeStream.format("memory").queryName("rm_stream_dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    n = spark.sql("SELECT count(DISTINCT event_id) AS n, count(*) AS total "
                  "FROM rm_stream_dedup").collect()[0]
    assert n["total"] == 100  # duplicates dropped
    assert n["n"] == 100


def test_streaming_end_to_end(spark):
    n = W.streaming_smoke(spark, seconds=3)
    assert n >= 0  # the query ran, produced finalized windows (append mode)


def test_stream_neardup_matches_batch_lsh(spark, tmp_path):
    """Stream-native minhash-LSH near-dup: duplicates arriving in a LATER
    micro-batch than their originals must be matched against state carried
    across batches, and the full emitted pair set must equal the batch
    operator's pairs at the same threshold (cap not binding)."""
    from radmapper_spark.session import load_tables
    from radmapper_spark.streaming import neardup as ND
    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].select("doc_id", "text").limit(40).cache()
    dups = docs.withColumn("doc_id", F.col("doc_id") + 100000)
    src = str(tmp_path / "nd_in")
    docs.coalesce(1).write.mode("overwrite").parquet(src)       # batch 1
    dups.coalesce(1).write.mode("append").parquet(src)          # batch 2
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = ND.neardup_stream(stream, jaccard_threshold=0.9, max_bucket=1000)
    q = (out.writeStream.format("memory").queryName("rm_stream_neardup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["id_a"], r["id_b"]) for r in
           spark.sql("SELECT DISTINCT id_a, id_b FROM rm_stream_neardup").collect()}
    both = docs.unionByName(dups)
    batch = dedup.minhash_lsh_pairs(both, jaccard_threshold=0.9)
    want = {(r["id_a"], r["id_b"]) for r in batch.collect()}
    rel = getattr(batch, "rm_release_cache", None)
    if rel:
        rel()
    docs.unpersist()
    assert want, "no batch pairs — dup injection broken"
    assert got == want, f"missed={want - got} extra={got - want}"


def test_stream_neardup_bounded_bucket_state(spark, tmp_path):
    """max_bucket=1 bounds per-bucket state to the most recent member —
    the hot-bucket guarantee; the operator must still run end to end."""
    from radmapper_spark.streaming import neardup as ND
    df = spark.createDataFrame(
        [(i, "identical boilerplate text repeated verbatim here") for i in range(8)],
        ["doc_id", "text"])
    src = str(tmp_path / "nd_hot")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = ND.neardup_stream(stream, jaccard_threshold=0.9, max_bucket=1)
    q = (out.writeStream.format("memory").queryName("rm_stream_neardup_hot")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    pairs = {(r["id_a"], r["id_b"]) for r in
             spark.sql("SELECT DISTINCT id_a, id_b "
                       "FROM rm_stream_neardup_hot").collect()}
    # with state capped at 1, doc i can only match its immediate
    # predecessor: consecutive pairs only, and all of them are found
    assert pairs == {(i, i + 1) for i in range(7)}, pairs


def test_llm_extract_column_batched(spark):
    """Arrow-batched extraction UDF over a text column (LLM stubbed with
    the deterministic heuristic)."""
    from radmapper_spark.operators.llm import llm_extract, llm_extract_column
    df = spark.createDataFrame(
        [(1, "invoice number: INV-778 due soon"), (2, "no fields here")],
        ["id", "text"])
    out = {r["id"]: r["extracted"]
           for r in llm_extract_column(df, "text", "invoice number").collect()}
    assert out[1] == "INV-778"
    assert out[2] is None
    assert llm_extract("total amount: 42.50", "total amount") == "42.50"


def test_llm_live_http_client(spark, monkeypatch):
    """The real HTTP path: a local OpenAI-shaped stub server answers the
    chat-completions POST; both the scalar call and the batched pandas-UDF
    column path must route through it when RM_LLM_ENDPOINT is set."""
    import http.server
    import json
    import threading

    class Stub(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            user = next(m["content"] for m in req["messages"]
                        if m["role"] == "user")
            body = json.dumps({"choices": [{"message": {
                "role": "assistant",
                "content": f"ANSWER:{len(user)}"}}]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Stub)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        monkeypatch.setenv("RM_LLM_ENDPOINT",
                           f"http://127.0.0.1:{srv.server_address[1]}/v1/chat/completions")
        from radmapper_spark.operators.llm import llm_extract, llm_extract_column
        got = llm_extract("some text", "thing")
        assert got.startswith("ANSWER:")
        df = spark.createDataFrame([(1, "abc"), (2, "defgh")], ["id", "text"])
        out = {r["id"]: r["extracted"]
               for r in llm_extract_column(df, "text", "thing").collect()}
        assert all(v.startswith("ANSWER:") for v in out.values())
        assert out[1] != out[2]  # per-row prompts differ in length
    finally:
        srv.shutdown()


def test_llm_match_name_alignment():
    from radmapper_spark.operators.llm import llm_match
    src = {"Invoice": {"InvoiceLine": {"BuyerParty": "x"}}}
    tar = {"invoice": {"invoice_line": {"buyer_party": "y"}}}
    m = llm_match(src, tar)
    assert m["mapping"]["Invoice"] == "invoice"
    assert m["mapping"]["Invoice.InvoiceLine"] == "invoice.invoice_line"


def test_llm_match_live_branch(monkeypatch):
    """$llmMatch live path: a stub chat server receives the reference-shaped
    matching prompt (placeholder-ized source/target forms) and answers with
    concat / extract-from / direct placeholders; the post-processor must turn
    them into `$data.` paths, `&` concatenation, and `$llmExtract` calls,
    plus a function source (builtin.cljc:2532-2623)."""
    import http.server
    import json
    import threading

    seen = {}

    class Stub(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            seen["user"] = next(m["content"] for m in req["messages"]
                                if m["role"] == "user")
            seen["system"] = next(m["content"] for m in req["messages"]
                                  if m["role"] == "system")
            answer = {"Buyer": {"AddressLine": {
                          "concat": ["<company-data>", "<street-data>"]},
                      "City": {"extract-from": "<blob-data>", "value": "City"},
                      "Zip": "<replace-me>"}}
            body = json.dumps({"choices": [{"message": {
                "role": "assistant", "content": json.dumps(answer)}}]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Stub)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        monkeypatch.setenv("RM_LLM_ENDPOINT",
                           f"http://127.0.0.1:{srv.server_address[1]}/v1/chat/completions")
        from radmapper_spark.operators.llm import llm_match
        src = {"Seller": {"Company": "Acme", "Street": "1 Way", "Blob": "x"}}
        tar = {"Buyer": {"AddressLine": "?", "City": "?", "Zip": "?"}}
        m = llm_match(src, tar)
        # the POSTed prompt carries the placeholder-ized forms
        assert "<company-data>" in seen["user"] and "<replace-me>" in seen["user"]
        assert "source_form" in seen["user"] and "target_form" in seen["user"]
        assert "concat" in seen["system"] and "extract-from" in seen["system"]
        got = m["mapping"]["Buyer"]
        assert got["AddressLine"] == "$data.Seller.Company & $data.Seller.Street"
        assert got["City"] == "$llmExtract($data.Seller.Blob, 'City')"
        assert got["Zip"] == "<replace-me>"  # nothing matched => left as-is
        assert m["fn_src"].startswith("function($data){")
        assert "$llmExtract($data.Seller.Blob, 'City')" in m["fn_src"]
    finally:
        srv.shutdown()


def test_write_parquet_roundtrip(spark, tables, tmp_path):
    from radmapper_spark.sources.writers import write_result
    out = str(tmp_path / "sink")
    df = tables["nation"]
    write_result(df, out, partition_by=["n_regionkey"])
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert sorted(back.columns) == sorted(df.columns)
    # partition pruning: filtering the partition column prunes directories
    import glob
    assert len(glob.glob(f"{out}/n_regionkey=*")) == 5
    # ...and the plan proves it: the filter lands in PartitionFilters (a
    # directory prune before any IO), not a post-scan Filter
    pruned = back.filter(F.col("n_regionkey") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "n_regionkey" in pf.group(1), plan
    assert pruned.count() == df.filter(F.col("n_regionkey") == 2).count()


def test_write_document(tmp_path):
    import json
    from radmapper_spark.sources.writers import write_document
    from radmapper_spark import run
    doc = run("$reduce([{?id: 1, ?n: 'a'}], express{{'rows': [{'id': key(?id), 'n': ?n}]}})")
    p = tmp_path / "doc.json"
    write_document(doc, str(p))
    assert json.loads(p.read_text()) == {"rows": [{"id": 1, "n": "a"}]}


def test_salted_join_matches_plain(spark, tables):
    from radmapper_spark.operators.skew import salted_join, top_keys
    li = tables["lineitem"].select("l_orderkey", "l_quantity")
    orders = tables["orders"].select("o_orderkey", "o_orderpriority") \
        .withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(orders, on="l_orderkey").count()
    salted = salted_join(li, orders, on="l_orderkey", salt=4).count()
    assert salted == plain
    keys = top_keys(li, "l_orderkey", 3)
    assert len(keys) == 3 and keys[0][1] >= keys[-1][1]


def test_connected_components_vs_union_find(spark):
    """Random graph: star-algorithm labels must equal brute-force union-find."""
    import random
    from radmapper_spark.operators.dedup import connected_components
    rng = random.Random(7)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in range(n)}
    e = spark.createDataFrame(edges, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["node"])
    # BOTH engines must agree with brute force: the driver union-find
    # fast path (default gate) and the distributed star loop (gate 0)
    for thr in (2_000_000, 0):
        got = {r["node"]: r["component"]
               for r in connected_components(
                   e, nodes=nodes, local_threshold=thr).collect()}
        assert got == expected, f"local_threshold={thr}"


def test_connected_components_long_chain(spark):
    """A 64-node chain needs multiple star rounds (diameter >> 2)."""
    from radmapper_spark.operators.dedup import connected_components
    e = spark.createDataFrame([(i, i + 1) for i in range(63)], ["id_a", "id_b"])
    # force the DISTRIBUTED star loop: a chain is its worst case (diameter)
    out = connected_components(e, local_threshold=0).collect()
    assert len(out) == 64
    assert {r["component"] for r in out} == {0}


def test_dedup_groups_labels_every_doc(spark, tables):
    """Exact-dup pairs -> groups: every doc labeled, copies share a group."""
    from radmapper_spark.operators import dedup
    from pyspark.sql import functions as F
    docs = tables["documents"]
    norm = docs.select(F.col("doc_id"),
                       dedup.normalize_text(F.col("text")).alias("t"))
    pairs = (norm.alias("a").join(norm.alias("b"), "t")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b")))
    out = dedup.dedup_groups(docs, pairs)
    assert out.count() == docs.count()
    # group count == number of distinct normalized texts
    assert out.select("component").distinct().count() == norm.select("t").distinct().count()


def test_salted_join_matches_plain_join(spark):
    """Salting must be semantically invisible (inner and left), spread a
    hot key across salts, and refuse join types that would duplicate the
    replicated side."""
    import pytest
    from radmapper_spark.operators import skew
    # hot key: 900 of 1000 rows share key 7
    big = spark.createDataFrame(
        [(7 if i < 900 else i % 50, i) for i in range(1000)], ["k", "payload"])
    other = spark.createDataFrame([(i, f"v{i}") for i in range(40)], ["k", "val"])
    plain = big.join(other, "k").groupBy("k").count()
    salted = skew.salted_join(big, other, "k", num_salts=4).groupBy("k").count()
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # left join: unmatched big rows survive exactly once
    pl = big.join(other, "k", "left").count()
    sl = skew.salted_join(big, other, "k", num_salts=4, how="left").count()
    assert sl == pl
    # the hot key's rows really do land in multiple salt groups
    from pyspark.sql import functions as F
    n_salts = (big.withColumn(skew.SALT, F.pmod(
        F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(4)))
        .filter(F.col("k") == 7).select(skew.SALT).distinct().count())
    assert n_salts > 1
    with pytest.raises(ValueError):
        skew.salted_join(big, other, "k", how="full")


def test_salted_two_phase_agg_matches_plain(spark):
    from radmapper_spark.operators import skew
    df = spark.createDataFrame(
        [("a" if i < 80 else "b", i % 10, float(i)) for i in range(100)],
        ["g", "u", "v"])
    out = {r["g"]: (r["n"], r["s"], list(r["users"])) for r in
           skew.salted_two_phase_agg(
               df, "g", {"n": ("count", "u"), "s": ("sum", "v"),
                         "users": ("collect_set", "u")}, num_salts=3).collect()}
    want = {r["g"]: (r["n"], r["s"], sorted(r["users"])) for r in
            df.groupBy("g").agg(
                F.count("u").alias("n"), F.sum("v").alias("s"),
                F.sort_array(F.collect_set("u")).alias("users")).collect()}
    assert out == want


def test_quantize_int8_roundtrip_bound(spark, tables):
    """int8 quantization: values in [-127,127], reconstruction error
    bounded by scale/2 per vector."""
    emb = tables["embeddings"]
    q = similarity.quantize_int8(emb)
    row = q.first()
    assert all(-127 <= v <= 127 for v in row["qvec"])
    err = similarity.dequantize_error(emb)
    assert err.filter(F.col("max_err") > F.col("bound") * 1.001).count() == 0


def test_minhash_functions_are_distinct_and_estimate_graded(spark):
    """Regression for the transform-lambda arity trap: the num_hashes
    rehash functions must be DISTINCT (a (h, i=i) default-arg lambda
    looks binary to transform(), which then passes the array index as i
    — every 'function' becomes the same position-dependent one and
    est_jaccard collapses to 0-or-1). Two near-dup docs must get an
    estimate strictly between 0 and 1, near the true Jaccard."""
    words = " ".join(f"t{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, words), (2, words + " extra")], "doc_id long, text string")
    sig = {r["doc_id"]: r["minhash"] for r in
           dedup.minhash_signature(docs).select("doc_id", "minhash").collect()}
    # distinct hash functions -> a doc's 32 minhash values are not all equal
    assert len(set(sig[1])) > 1
    matches = sum(1 for a, b in zip(sig[1], sig[2]) if a == b)
    est = matches / len(sig[1])
    assert 0.0 < est < 1.0, f"bimodal estimate {est} (arity trap regressed)"
    assert abs(est - 26 / 27) < 0.25  # near the true shingle jaccard


def test_ivf_index_persist_roundtrip(spark, tables, tmp_path):
    """build_ivf_index -> search_ivf_index returns exactly the in-memory
    ivf_topk results for matching params, and the cells scan is
    partition-PRUNED to the probed cells."""
    emb = tables["embeddings"]
    q = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("qid"), "embedding")
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, ncentroids=8)
    got = similarity.search_ivf_index(spark, path, q, k=5, nprobe=4)
    mem = similarity.ivf_topk(emb, q, k=5, ncentroids=8, nprobe=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, mem.collect()))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1][:200]
    assert "cell" in seg, f"cells scan not partition-pruned: {seg}"


def test_rolling_anomalies_stream_matches_batch(spark, tmp_path):
    """Streaming z-score flags == batch operator on an ordered stream:
    per-user ring-buffer state carries across 3 micro-batches.

    Arrow batches are capped at 7 records and each micro-batch file is
    written in REVERSE (ts, event_id) order, so every group's batch spans
    several out-of-order chunks — the regression shape for the per-chunk
    sort bug (state folded in chunk order when a batch spans chunks)."""
    from radmapper_spark.operators import behavior
    from radmapper_spark.session import load_tables
    t = load_tables(spark, "/root/testdata/sf0.001")
    ev = (t["events"].select("event_id", "ts", "user_id", "value")
          .orderBy("ts", "event_id").limit(600).cache())
    rows = ev.collect()
    src = str(tmp_path / "anom_stream_in")
    for i in range(3):
        chunk = list(reversed(rows[i * 200:(i + 1) * 200]))
        spark.createDataFrame(chunk, ev.schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(arrow_key, None)
    spark.conf.set(arrow_key, "7")
    try:
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        out = W.rolling_anomalies_stream(stream, lookback=10,
                                         z_threshold=2.5)
        q = (out.writeStream.format("memory").queryName("rm_anom_stream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset(arrow_key)
        else:
            spark.conf.set(arrow_key, prev)
    got = {r["event_id"]: r["zscore"]
           for r in spark.sql("SELECT * FROM rm_anom_stream").collect()}
    want = {r.event_id: r.zscore for r in behavior.rolling_anomalies(
        ev, lookback=10, z_threshold=2.5).collect()}
    assert set(got) == set(want)
    for eid, z in want.items():
        assert abs(got[eid] - z) < 1e-9
    assert len(want) > 0
    ev.unpersist()
