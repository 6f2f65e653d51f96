"""Decontamination / repetition / mixture / range-search operators:
planted-value semantics plus plan-shape checks (broadcast benchmark,
map-only scrub)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radmapper_spark.operators import decontam, profiling, similarity, textstats


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontaminate_planted(spark):
    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "a completely different document with no overlap at all"),
         (102, "quick brown fox jumps padding quick brown fox jumps")],
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(1, "watch the quick brown fox jumps today")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           decontam.decontaminate(corpus, bench, n=4).collect()}
    assert out[100]["contaminated"] and out[100]["n_hits"] == 2
    # 'the quick brown fox' + 'quick brown fox jumps'
    assert not out[101]["contaminated"] and out[101]["n_hits"] == 0
    assert out[102]["contaminated"] and out[102]["n_hits"] == 2
    # the duplicated 'quick brown fox jumps' counts each occurrence


def test_decontaminate_hashed_equals_strings(spark, tables):
    """The hashed join path must report exactly the same counts as the
    raw-string path on the real fixture corpus."""
    docs = tables["documents"]
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    a = sorted(map(tuple, decontam.decontaminate(
        corpus, bench, n=4, hashed=True).collect()))
    b = sorted(map(tuple, decontam.decontaminate(
        corpus, bench, n=4, hashed=False).collect()))
    assert a == b


def test_decontaminate_benchmark_is_broadcast(spark):
    corpus = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "c d e f g")], ["doc_id", "text"])
    plan = _plan(decontam.decontaminate(corpus, bench, n=4))
    assert "BroadcastHashJoin" in plan, \
        "benchmark n-grams must broadcast, not shuffle the corpus"


def test_blocklist_scrub_planted(spark):
    docs = spark.createDataFrame(
        [(1, "bad word and badly formed bad text"),
         (2, "clean text entirely"),
         (3, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           decontam.blocklist_scrub(docs, ["bad", "word"]).collect()}
    # whole-word: 'badly' must NOT match
    assert out[1]["n_blocked"] == 3
    assert out[1]["clean_text"] == \
        "[REDACTED] [REDACTED] and badly formed [REDACTED] text"
    assert out[2]["n_blocked"] == 0
    assert out[2]["clean_text"] == "clean text entirely"
    assert out[3]["clean_text"] is None
    with pytest.raises(ValueError):
        decontam.blocklist_scrub(docs, [])


def test_blocklist_scrub_is_map_only(spark):
    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    plan = _plan(decontam.blocklist_scrub(docs, ["x"]))
    assert "Exchange" not in plan, "scrub must not shuffle"


def test_repetition_score_planted(spark):
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"),        # dup bigrams + top-word 1.0
         (2, "all words here are unique"),  # no repetition
         (3, "")],                          # empty
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           textstats.repetition_score(docs, n=2).collect()}
    # doc 1: bigrams [spam spam] x3 -> distinct 1 -> dup 2/3
    assert out[1]["dup_ngram_frac"] == round(2 / 3, 6)
    assert out[1]["top_word_frac"] == 1.0
    assert not out[1]["keep"]
    assert out[2]["dup_ngram_frac"] == 0.0
    assert out[2]["top_word_frac"] == 0.2
    assert out[2]["keep"]
    assert out[3]["dup_ngram_frac"] == 0.0 and out[3]["keep"]


def test_source_mixture_weights_sum_to_one(spark, tables):
    out = profiling.source_mixture(tables["documents"]).collect()
    assert len(out) > 1
    total = sum(r["weight"] for r in out)
    assert abs(total - 1.0) < 1e-6
    toks = sum(r["n_tokens"] for r in out)
    docs = sum(r["n_docs"] for r in out)
    assert docs == tables["documents"].count()
    assert toks > docs  # multiple tokens per doc


def test_range_search_matches_bruteforce_prefix(spark, tables):
    """range_search at a radius must equal the >=threshold slice of the
    exact scores (self excluded)."""
    emb = tables["embeddings"]
    q = (emb.orderBy("vec_id").limit(3)
         .select(F.col("vec_id").alias("qid"), "embedding"))
    got = {(r["qid"], r["cid"]): r["cosine"]
           for r in similarity.range_search(emb, q, threshold=0.25).collect()}
    exact = similarity.brute_force_topk(emb, q, k=10_000)
    want = {(r["qid"], r["cid"]): r["cosine"]
            for r in exact.collect()
            if r["cosine"] >= 0.25 and r["qid"] != r["cid"]}
    assert got == want
    # 0.25 is fixture-calibrated to be non-vacuous at every SF: a 0=0
    # comparison would green a broken implementation (VERDICT r6 §wrong-2)
    assert len(got) > 0


def test_fuzzy_pairs_fastss_complete_vs_bruteforce(spark, tables):
    """Deletion-neighborhood banding must find EXACTLY the brute-force
    edit-distance<=1 pairs over the real part names."""
    part = tables["part"]
    from radmapper_spark.operators import dedup
    got = {(r["name_a"], r["name_b"]) for r in
           dedup.fuzzy_pairs_levenshtein(part, "p_name").collect()}
    names = [r["p_name"] for r in
             part.select("p_name").distinct().collect()]
    a = part.select(F.col("p_name").alias("x")).distinct()
    b = part.select(F.col("p_name").alias("y")).distinct()
    truth = {(r["x"], r["y"]) for r in
             a.crossJoin(b).filter(F.col("x") < F.col("y"))
             .filter(F.levenshtein("x", "y") <= 1).collect()}
    assert got == truth, f"missed={truth - got} extra={got - truth}"
    assert len(names) > 10


def test_fuzzy_pairs_rejects_higher_distance(spark, tables):
    import pytest as _pytest
    from radmapper_spark.operators import dedup
    with _pytest.raises(ValueError):
        dedup.fuzzy_pairs_levenshtein(tables["part"], "p_name", max_dist=2)


def test_embedding_index_probe_matches_bruteforce(spark, tables, tmp_path):
    """Incremental embedding near-dup: index the corpus (vec_id % 10 != 0),
    probe the held-out batch — results must EQUAL the brute-force
    batch-x-corpus cosine pairs >= threshold, with cosines matching the
    exact computation to 1e-12, and the probe plan must never read the
    corpus table (only the persisted index)."""
    from radmapper_spark.operators import dedup
    emb = tables["embeddings"]
    # corpus and batch in SEPARATE parquet files so the no-corpus-scan
    # property is checkable by input file set
    emb.filter(F.col("vec_id") % 10 != 0).write.parquet(
        str(tmp_path / "corpus"))
    emb.filter(F.col("vec_id") % 10 == 0).write.parquet(
        str(tmp_path / "batch"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    batch = spark.read.parquet(str(tmp_path / "batch"))
    path = str(tmp_path / "slsh")
    dedup.build_embedding_index(corpus, path)

    got_df = dedup.neardup_embedding_vs_index(batch, path, threshold=0.45)
    files = set(got_df.inputFiles())
    assert any("/slsh/" in f for f in files), "probe must read the index"
    assert not any("/corpus/" in f for f in files), \
        "probe must NEVER re-read the corpus table (the incremental contract)"
    got = {(r["new_id"], r["index_id"]): r["cosine"]
           for r in got_df.collect()}

    v = lambda df, n: df.select(F.col("vec_id").alias(n),  # noqa: E731
                                F.transform("embedding",
                                            lambda x: x.cast("double"))
                                .alias(f"_v_{n}"))
    dot = F.aggregate(F.zip_with("_v_a", "_v_b", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    truth = {(r["a"], r["b"]): r["cos"] for r in
             v(batch, "a").crossJoin(v(batch, "b").drop("a"))
             .collect()} if False else {
        (r["a"], r["b"]): r["cos"] for r in
        v(batch, "a").withColumnRenamed("_v_a", "_v_a").crossJoin(
            v(corpus, "b").withColumnRenamed("_v_b", "_v_b"))
        .withColumn("cos", dot / (nrm("_v_a") * nrm("_v_b")))
        .filter(F.col("cos") >= 0.45)
        .select(F.col("a"), F.col("b"), "cos").collect()}
    assert set(got) == set(truth), f"pair set differs: {set(got) ^ set(truth)}"
    assert len(got) > 0, "fixture should exercise the threshold"
    for k, c in truth.items():
        assert abs(got[k] - c) < 1e-12



# ======================== from test_round12.py (r14 consolidation) ========
import shutil
import pytest
from pyspark.sql import functions as F

def test_embedding_decontam_flags_exact_and_spares_orthogonal(spark):
    """A corpus row equal to a benchmark row flags at cosine 1.0 with
    the right hit count; an orthogonal row is absent from the output.
    The plan broadcasts the benchmark side (no corpus-side pair
    shuffle)."""
    from radmapper_spark.operators import decontam

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id: long, embedding: array<float>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]),      # exact copy of bench 100
         (2, [0.0, 0.0, 1.0]),      # orthogonal to both
         (3, [0.7071, 0.7071, 0.0])],  # 0.7071 cosine to BOTH
        "vec_id: long, embedding: array<float>")
    out = decontam.embedding_decontam(corpus, bench, threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    rows = {r["vec_id"]: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["max_cosine"] == 1.0 and rows[1]["n_hits"] == 1
    assert rows[3]["n_hits"] == 2
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
