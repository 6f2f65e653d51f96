"""RM-language table builtins: the pipeline extension operators driven
from RM programs over Spark-backed tables (lazy SparkDB in/out, plans
compose across calls)."""

from __future__ import annotations

import pytest

from radmapper_spark.functions.builtins import RMFnError
from radmapper_spark.lang.interp import Interp
from radmapper_spark.operators.spark_bridge import SparkDB


def _run(spark, src, **bindings):
    return Interp(spark).run_raw(src, bindings=bindings)


def test_dedup_exact_from_rm(spark, tables):
    out = _run(spark, "$dedupExact($db($docs))", **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    assert set(out.df.columns) >= {"keep_id", "n_copies"}
    assert out.df.count() <= tables["documents"].count()


def test_pipeline_chain_stays_lazy(spark, tables):
    """langID -> qualityScore -> hashSplit composed in ONE RM program;
    the result is one lazy plan (no collect between stages)."""
    src = """
    ( $d := $db($docs);
      $scored := $qualityScore($langID($d));
      $hashSplit($scored, 'doc_id') )
    """
    out = _run(spark, src, **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    cols = set(out.df.columns)
    assert {"lang_pred", "quality", "bucket", "split"} <= cols
    plan = out.df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1  # stages fused over one scan
    assert out.df.count() == tables["documents"].count()


def test_asof_join_from_rm(spark, tables):
    src = """
    ( $p := $db($events)[event_type = 'purchase'];
      $c := $db($events)[event_type = 'click'];
      $asofJoin($p, $c, 'user_id') )
    """
    out = _run(spark, src, **{"$events": tables["events"]})
    assert isinstance(out, SparkDB)
    assert "ts_right" in out.df.columns


def test_filter_step_on_spark_table_pushes_down(spark, tables):
    """[pred] on a $db table compiles through the Column compiler, stays
    a lazy DataFrame filter, and reaches the parquet scan as a pushed
    filter."""
    out = _run(spark, "$db($ev)[event_type = 'purchase']",
               **{"$ev": tables["events"]})
    assert isinstance(out, SparkDB)
    from pyspark.sql import functions as F
    expected = tables["events"].filter(F.col("event_type") == "purchase").count()
    assert out.df.count() == expected
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(event_type,purchase)" in plan  # PushedFilters


def test_filter_step_on_spark_table_rejects_index(spark, tables):
    from radmapper_spark.lang.interp import RMError
    with pytest.raises(RMError, match="positional"):
        _run(spark, "$db($ev)[0]", **{"$ev": tables["events"]})


def test_quantiles_and_sample_from_rm(spark, tables):
    out = _run(spark, "$quantiles($db($ev), 'event_type', 'value')",
               **{"$ev": tables["events"]})
    assert out.df.count() == 5
    out2 = _run(spark, "$samplePerGroup($db($docs), 'lang', 'doc_id', 7)",
                **{"$docs": tables["documents"]})
    assert out2.df.groupBy("lang").count().agg(
        {"count": "max"}).collect()[0][0] <= 7


def test_table_builtin_rejects_local_data(spark):
    with pytest.raises(RMFnError, match="Spark-backed"):
        _run(spark, "$dedupExact([{'a': 1}])")


def test_get_step_on_spark_table(spark, tables):
    """.field on a $db table projects lazily; $distinct/$sort force at
    the boundary."""
    out = _run(spark, "$distinct($db($ev).event_type) ~> $sort()",
               **{"$ev": tables["events"]})
    expected = sorted(r["event_type"] for r in
                      tables["events"].select("event_type").distinct().collect())
    assert out == expected


def test_map_step_on_spark_table(spark, tables):
    """.(expr) compiles to a per-row Column; aggregate equals the
    DataFrame computation."""
    from pyspark.sql import functions as F
    got = _run(spark, "$sum($db($ev)[event_type='purchase'].(value * 2))",
               **{"$ev": tables["events"]})
    want = (tables["events"].filter(F.col("event_type") == "purchase")
            .agg(F.sum(F.col("value") * 2)).collect()[0][0])
    assert abs(got - want) < 1e-6


def test_filter_then_get_counts(spark, tables):
    from pyspark.sql import functions as F
    got = _run(spark, "$db($ev)[value > 100].event_id ~> $count()",
               **{"$ev": tables["events"]})
    want = tables["events"].filter(F.col("value") > 100).count()
    assert got == want


def test_decontaminate_from_rm(spark, tables):
    src = """
    ( $d := $db($docs);
      $decontaminate($d[doc_id >= 20], $d[doc_id < 20], 4) )
    """
    out = _run(spark, src, **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    assert set(out.df.columns) == {"doc_id", "n_hits", "contaminated"}
    assert out.df.count() > 0


def test_blocklist_scrub_from_rm(spark, tables):
    out = _run(spark, "$blocklistScrub($db($docs), ['spark', 'crash'])",
               **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    assert "clean_text" in out.df.columns
    with pytest.raises(RMFnError):
        _run(spark, "$blocklistScrub($db($docs), 'spark')",
             **{"$docs": tables["documents"]})


def test_funnel_and_cohorts_from_rm(spark, tables):
    out = _run(spark,
               "$funnel($db($ev), ['view', 'click', 'purchase'], 86400)",
               **{"$ev": tables["events"]})
    assert isinstance(out, SparkDB)
    rows = {r["stage"]: r["n_users"] for r in out.df.collect()}
    assert rows[1] >= rows[2] >= rows[3]          # funnel is monotone
    coh = _run(spark, "$cohortRetention($db($ev))",
               **{"$ev": tables["events"]})
    assert {"cohort_start", "period_offset", "n_active",
            "retention"} <= set(coh.df.columns)


def test_merge_latest_and_pagerank_from_rm(spark, tables):
    from pyspark.sql import functions as F
    chg = (tables["orders"].filter(F.col("o_orderkey") % 7 == 0)
           .withColumn("_deleted", F.col("o_orderkey") % 3 == 0))
    out = _run(spark,
               "$mergeLatest($db($o), $db($chg), 'o_orderkey', "
               "'o_orderdate')",
               **{"$o": tables["orders"], "$chg": chg})
    assert isinstance(out, SparkDB)
    assert out.df.count() < tables["orders"].count()  # tombstones applied

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")], ["src", "dst"])
    pr = _run(spark, "$pageRank($db($e), 3)", **{"$e": edges})
    ranks = {r["node"]: r["rank"] for r in pr.df.collect()}
    assert ranks["a"] == 1_741_625_000_000


def test_repetition_score_from_rm(spark, tables):
    out = _run(spark, "$repetitionScore($db($docs))",
               **{"$docs": tables["documents"]})
    assert {"dup_ngram_frac", "top_word_frac", "keep"} <= set(out.df.columns)


def test_similarity_and_profiling_builtins(spark, tables):
    q = ("( $e := $db($emb); $q := $db($qv); $annTopK($e, $q, 3) )")
    from pyspark.sql import functions as F
    qv = (tables["embeddings"].orderBy("vec_id").limit(2)
          .select(F.col("vec_id").alias("qid"), "embedding"))
    out = _run(spark, q, **{"$emb": tables["embeddings"], "$qv": qv})
    assert out.df.count() == 6                  # 2 queries x k=3
    rs = _run(spark, "$rangeSearch($db($emb), $db($qv), 0.4)",
              **{"$emb": tables["embeddings"], "$qv": qv})
    assert {"qid", "cid", "cosine"} == set(rs.df.columns)
    oz = _run(spark, "$iqrOutliers($db($ev), 'event_type', 'value')",
              **{"$ev": tables["events"]})
    assert "outlier_frac" in oz.df.columns
    fz = _run(spark, "$fuzzyPairs($db($part), 'p_name')",
              **{"$part": tables["part"]})
    assert {"name_a", "name_b", "dist"} == set(fz.df.columns)
    rates = spark.createDataFrame([("src0", 1.0)], ["source", "rate"])
    mx = _run(spark, "$mixtureSample($db($docs), 'source', $db($rates), "
                     "'doc_id')",
              **{"$docs": tables["documents"], "$rates": rates})
    assert mx.df.select("source").distinct().count() == 1


def test_round6b_builtins_from_rm(spark, tables):
    """The nine round-6b operators driven from RM programs: lazy SparkDB
    out, expected columns, composition with filter steps."""
    docs, events = tables["documents"], tables["events"]
    cases = [
        ("$chunkDocs($db($docs))", {"$docs": docs},
         {"doc_id", "chunk_seq", "chunk_text"}),
        ("$piiScrub($db($docs))", {"$docs": docs},
         {"doc_id", "n_emails", "scrub_hash"}),
        ("$invertedIndex($db($docs))", {"$docs": docs},
         {"term", "n_docs", "postings"}),
        ("$bm25($db($docs), ['spark', 'join'])", {"$docs": docs},
         {"rank", "doc_id", "bm25"}),
        ("$gapfillDaily($db($ev))", {"$ev": events},
         {"user_id", "day", "cum_total"}),
        ("$transitions($db($ev))", {"$ev": events},
         {"from_type", "to_type", "prob"}),
        ("$rollingAnomalies($db($ev))", {"$ev": events},
         {"event_id", "zscore"}),
    ]
    for src, bindings, cols in cases:
        out = _run(spark, src, **bindings)
        assert isinstance(out, SparkDB), src
        assert cols <= set(out.df.columns), src
        assert out.df.count() >= 0

    out = _run(spark, "$kmeansAssign($db($emb), 4)",
               **{"$emb": tables["embeddings"]})
    assert isinstance(out, SparkDB)
    assert set(out.df.columns) == {"vec_id", "cluster", "dist_scaled"}
    assert out.df.select("cluster").distinct().count() <= 4

    src = """
    ( $t := $tokenCount($db($docs));
      $packSequences($t, 128, 'source', 'n_tokens_ws') )
    """
    out = _run(spark, src, **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    assert {"doc_id", "pack_id", "pack_fill"} <= set(out.df.columns)


def test_kmeans_and_chunk_cdc_builtins(spark, tables):
    out = _run(spark, "$kmeans($db($emb), 4, 2)",
               **{"$emb": tables["embeddings"]})
    assert isinstance(out, SparkDB)
    assert set(out.df.columns) == {"vec_id", "cluster", "dist_scaled"}
    n = out.df.select("cluster").distinct().count()
    assert n <= 4

    out = _run(spark, "$chunkCDC($db($docs), 8)",
               **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    assert {"doc_id", "chunk_seq", "chunk_text"} <= set(out.df.columns)
    assert out.df.count() > 0


def test_weighted_sample_builtin(spark, tables):
    out = _run(spark,
               "$weightedSample($db($docs), 'source', 'n_chars', 5)",
               **{"$docs": tables["documents"]})
    assert isinstance(out, SparkDB)
    assert {"source", "doc_id", "sample_rank"} <= set(out.df.columns)
    assert out.df.groupBy("source").count().agg(
        {"count": "max"}).collect()[0][0] <= 5


def test_index_build_probe_builtins(spark, tables, tmp_path):
    """The incremental-dedup shape from RM source: build a persisted
    index, probe it with a held-out batch — both families."""
    docs = tables["documents"]
    emb = tables["embeddings"]
    from pyspark.sql import functions as F
    mh = str(tmp_path / "mh")
    out = _run(spark,
               "( $buildNearDupIndex($db($old), $p);"
               "  $probeNearDupIndex($db($new), $p) )",
               **{"$old": docs.filter(F.col("doc_id") % 3 != 0),
                  "$new": docs.filter(F.col("doc_id") % 3 == 0),
                  "$p": mh})
    assert isinstance(out, SparkDB)
    assert {"new_id", "index_id", "est_jaccard"} <= set(out.df.columns)
    assert out.df.count() >= 0

    slsh = str(tmp_path / "slsh")
    out = _run(spark,
               "( $buildEmbeddingIndex($db($old), $p);"
               "  $probeEmbeddingIndex($db($new), $p, 0.45) )",
               **{"$old": emb.filter(F.col("vec_id") % 10 != 0),
                  "$new": emb.filter(F.col("vec_id") % 10 == 0),
                  "$p": slsh})
    assert isinstance(out, SparkDB)
    assert {"new_id", "index_id", "cosine"} <= set(out.df.columns)
    n = out.df.count()
    assert n > 0


def test_index_admit_builtins(spark, tables, tmp_path):
    """$admitNearDupIndex / $admitEmbeddingIndex from RM source: admit a
    second batch, then probe a third — hits must include members of the
    ADMITTED batch (append visibility through the language surface)."""
    from pyspark.sql import functions as F
    docs = tables["documents"]
    mh = str(tmp_path / "mh")
    out = _run(spark,
               "( $buildNearDupIndex($db($base), $p);"
               "  $admitNearDupIndex($db($admit), $p);"
               "  $probeNearDupIndex($db($probe), $p) )",
               **{"$base": docs.filter(F.col("doc_id") % 3 == 0),
                  "$admit": docs.filter(F.col("doc_id") % 3 == 1),
                  "$probe": docs.filter(F.col("doc_id") % 3 == 2),
                  "$p": mh})
    assert isinstance(out, SparkDB)
    rows = out.df.collect()
    assert any(r.index_id % 3 == 1 for r in rows), \
        "no hits against the admitted batch — append not visible"


def test_gram_and_pca_builtins(spark, tables):
    import numpy as np
    out = _run(spark, "$gramMatrix($db($emb))",
               **{"$emb": tables["embeddings"]})
    assert isinstance(out, SparkDB)
    rows = out.df.collect()
    d = max(r.i for r in rows)
    assert len(rows) == d * (d + 1) // 2
    assert set(out.df.columns) == {"i", "j", "gram_scaled"}
    # diagonal cells are sums of squares — strictly positive
    assert all(int(r.gram_scaled) > 0 for r in rows if r.i == r.j)

    out = _run(spark, "$pcaProject($db($emb), 4)",
               **{"$emb": tables["embeddings"]})
    assert isinstance(out, SparkDB)
    assert set(out.df.columns) == {"vec_id", "proj"}
    prows = out.df.collect()
    assert len(prows) == tables["embeddings"].count()
    assert all(len(r.proj) == 4 for r in prows)
    # whitened projections: population covariance == identity
    out = _run(spark, "$pcaProject($db($emb), 4, 'embedding', 'vec_id', true)",
               **{"$emb": tables["embeddings"]})
    P = np.stack([np.asarray(r.proj) for r in out.df.collect()])
    C = (P - P.mean(axis=0)).T @ (P - P.mean(axis=0)) / len(P)
    assert np.abs(C - np.eye(4)).max() < 1e-6


def test_pca_project_whiten_language_truthiness(spark, tables):
    """A path-navigated false arrives JSeq-wrapped, and bool(JSeq([
    False])) is True (non-empty list) — the builtin must coerce whiten
    through language truthiness, so a wrapped false means PLAIN
    projection, identical to omitting the flag."""
    import numpy as np
    from radmapper_spark.lang.values import JSeq
    plain = _run(spark, "$pcaProject($db($emb), 4)",
                 **{"$emb": tables["embeddings"]})
    wrapped = _run(
        spark, "$pcaProject($db($emb), 4, 'embedding', 'vec_id', $w)",
        **{"$emb": tables["embeddings"], "$w": JSeq([False])})
    a = {r.vec_id: np.asarray(r.proj) for r in plain.df.collect()}
    b = {r.vec_id: np.asarray(r.proj) for r in wrapped.df.collect()}
    assert a.keys() == b.keys()
    assert max(np.abs(a[k] - b[k]).max() for k in a) == 0.0



# ======================== from test_round8.py (r14 consolidation) ========
import os
import subprocess
import sys
import pytest
from pyspark.sql import functions as F

def test_probe_builtins_raise_rmfnerror_on_bad_threshold(spark, tables,
                                                         tmp_path):
    """$probeNearDupIndex / $probeEmbeddingIndex must report a
    non-numeric threshold as an RMFnError (like every numeric builtin),
    not a raw TypeError."""
    from radmapper_spark.functions.builtins import RMFnError
    from radmapper_spark.lang.interp import Interp

    docs = tables["documents"]
    mh = str(tmp_path / "mh")
    ip = Interp(spark)
    ip.run_raw("$buildNearDupIndex($db($d), $p)",
               bindings={"$d": docs.limit(10), "$p": mh})
    with pytest.raises(RMFnError, match="probeNearDupIndex"):
        ip.run_raw("$probeNearDupIndex($db($d), $p, 'high')",
                   bindings={"$d": docs.limit(5), "$p": mh})
