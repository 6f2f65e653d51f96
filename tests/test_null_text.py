"""Real corpora contain NULL and whitespace-only documents; the text and
near-dup operators must neither crash nor emit noise for them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radmapper_spark.operators import dedup, textstats

LONG = "the cat sat on the mat and it was good and long enough to shingle"


@pytest.fixture()
def docs_with_blanks(spark):
    return spark.createDataFrame(
        [(1, LONG, "en", "s", len(LONG)),
         (2, None, "en", "s", 0),
         (3, "", "en", "s", 0),
         (4, "   ", "en", "s", 3),
         (5, LONG, "en", "s", len(LONG))],
        "doc_id long, text string, lang string, source string, n_chars long")


def test_token_count_blank_is_zero(docs_with_blanks):
    rows = {r["doc_id"]: r for r in
            textstats.token_count(docs_with_blanks).collect()}
    for d in (2, 3, 4):
        assert rows[d]["n_tokens_ws"] == 0
        assert rows[d]["n_tokens_bpe_rx"] == 0
    assert rows[2]["n_tokens_bpe_est"] == 0  # NULL no longer propagates
    assert rows[1]["n_tokens_ws"] == len(LONG.split())


def test_lang_id_blank_is_und(docs_with_blanks):
    rows = {r["doc_id"]: r["lang_pred"] for r in
            textstats.lang_id(docs_with_blanks).collect()}
    assert rows[2] == rows[3] == rows[4] == "und"
    assert rows[1] == "en"


def test_quality_blank_is_low(docs_with_blanks):
    rows = {r["doc_id"]: r["quality"] for r in
            textstats.quality_score(docs_with_blanks).collect()}
    assert rows[2] == 0.0  # NULL text scores 0 (filtered by any pipeline)


@pytest.mark.parametrize("pairs_fn", [
    lambda d: dedup.minhash_lsh_pairs(d, jaccard_threshold=0.5),
    lambda d: dedup.simhash_pairs(d),
])
def test_neardup_ignores_blank_docs(docs_with_blanks, pairs_fn):
    """Blank docs must never pair (a hash-of-nothing signature would put
    every blank doc in one LSH bucket — a synthetic hot key at scale);
    real duplicates still found."""
    out = pairs_fn(docs_with_blanks)
    rows = out.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == {(1, 5)}


def test_stream_neardup_ignores_blank_docs(spark, docs_with_blanks,
                                           tmp_path):
    """The stream's pair set must equal its batch oracle's on blank docs
    too: NULL, '' and whitespace-only docs never reach a bucket."""
    from radmapper_spark.streaming.neardup import neardup_stream
    src = str(tmp_path / "blank_in")
    docs_with_blanks.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs_with_blanks.schema).parquet(src)
    q = (neardup_stream(stream, jaccard_threshold=0.5)
         .writeStream.format("memory").queryName("rm_stream_blank")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["id_a"], r["id_b"]) for r in
           spark.sql("SELECT DISTINCT id_a, id_b FROM rm_stream_blank")
           .collect()}
    assert got == {(1, 5)}


def test_exact_dedup_groups_blanks_separately(docs_with_blanks):
    """Exact dedup keeps NULL its own group and groups ''/'   ' by their
    common normal form — deterministic, documented behavior."""
    rows = dedup.exact_dedup(docs_with_blanks).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in rows}
    assert by_keep[1] == 2   # the two real duplicates
    assert by_keep[3] == 2   # '' and '   ' normalize identically
    assert by_keep[2] == 1   # NULL alone


def test_bm25_null_text_matches_duckdb_avgdl(spark, docs_with_blanks):
    """BM25's corpus avgdl must treat NULL text as 0 tokens, matching the
    DuckDB oracle's NULL-skipping sum(len(..)) — F.size(NULL) is -1 under
    non-ANSI Spark and silently skewed every micro-score (ADVICE r6)."""
    import duckdb
    out = {r["doc_id"]: r["bm25"] for r in
           textstats.bm25_score(docs_with_blanks, ["cat", "mat"]).collect()}
    con = duckdb.connect()
    con.register("documents", docs_with_blanks.toPandas())
    want = {r[0]: r[1] for r in con.execute("""
        WITH tok AS (SELECT doc_id,
                            list_filter(string_split_regex(lower(text),
                                                           '[^a-z]+'),
                                        x -> x <> '') AS toks
                     FROM documents),
             corpus AS (SELECT count(*) AS n,
                               sum(len(toks))::BIGINT AS tok_total
                        FROM tok),
             tf AS (SELECT doc_id, len(toks) AS dl, t.term,
                           count(*) AS tf
                    FROM tok, unnest(toks) AS t(term)
                    WHERE t.term IN ('cat', 'mat')
                    GROUP BY doc_id, dl, t.term),
             dfreq AS (SELECT term, count(DISTINCT doc_id) AS df
                       FROM tf GROUP BY term)
        SELECT doc_id,
               sum(round(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                         * (tf * 2.2)
                         / (tf + 1.2 * (0.25 + 0.75 * dl
                                        / (tok_total::DOUBLE / n)))
                         * 1e6)::BIGINT)::BIGINT / 1e6 AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
        GROUP BY doc_id
        """).fetchall()}
    assert set(out) == set(want)
    for d, s in want.items():
        assert abs(out[d] - s) < 1e-9, (d, out[d], s)
