"""Dedup operator internals: substring spans/scrub, signature bases, keep-best, rate report (operators/dedup.py).

Consolidated from the per-round test files (r14 governance pass) — test bodies unchanged."""

from __future__ import annotations

import os
import subprocess
import sys
import pytest
from pyspark.sql import functions as F
import __spark_entry__ as entrymod
from radmapper_spark.operators import lm
from tests.conftest import SF_SMOKE
from tests.oracle import assert_matches_oracle, duck_conn
import time
from radmapper_spark.operators import chunking, dedup, graph
from radmapper_spark.operators import multimodal as mm
from radmapper_spark.operators import tokenizer as tk
import re

# ======================== from test_round8.py ========
def test_repeated_spans_builtin(spark, tables):
    from radmapper_spark.lang.interp import Interp
    ip = Interp(spark)
    out = ip.run_raw("$repeatedSpans($db($d), 15)",
                     bindings={"$d": tables["documents"]})
    assert {"id_a", "id_b", "n_shared_spans"} <= set(out.df.columns)
    assert out.df.count() > 0


# ======================== from test_round10.py (r14 consolidation) ========
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _span_modes(spark, sf_dir, span_mode="arrow"):
    from radmapper_spark.operators import dedup
    t = entrymod.load_tables(spark, sf_dir)
    return {mode: dedup.repeated_span_pairs(t["documents"], key_mode=mode,
                                            span_mode=span_mode)
            for mode in ("hash", "text")}


def test_span_key_modes_value_identical(spark):
    """All four (key_mode x span_mode) combinations must produce
    identical pairs — neither the join key nor the window-explode
    implementation ever reaches the output. sf0.001 here; sf0.01/0.1
    in the gated sweep via the entry (hash+arrow) vs the string-keyed
    pure-SQL oracle."""
    ref = None
    for sm in ("arrow", "catalyst"):
        for mode, df in _span_modes(spark, SF_SMOKE, sm).items():
            rows = sorted(map(tuple, df.collect()))
            if ref is None:
                ref = rows
            assert rows and rows == ref, f"{mode}/{sm} diverged"


def test_span_hash_key_plan_shape(spark):
    """Hash mode must (1) actually key on xxhash64 and (2) not buy an
    extra exchange over text mode — the materialized-column trick is
    what keeps the subset rule satisfied (one span-keyed exchange
    serving distinct + df-count + self-join). Asserted for BOTH
    window-explode implementations: the arrow path is what production
    runs, and a regression in its mapInPandas/repartition subset-rule
    interaction must not hide behind a catalyst-only guard."""
    for sm in ("arrow", "catalyst"):
        dfs = _span_modes(spark, SF_SMOKE, sm)
        plans = {m: df._jdf.queryExecution().executedPlan().toString()
                 for m, df in dfs.items()}
        assert "xxhash64" in plans["hash"], sm
        assert "xxhash64" not in plans["text"], sm
        assert (plans["hash"].count("Exchange")
                == plans["text"].count("Exchange")), sm


def test_span_key_mode_validation(spark):
    from radmapper_spark.operators import dedup
    t = entrymod.load_tables(spark, SF_SMOKE)
    with pytest.raises(ValueError, match="key_mode"):
        dedup.repeated_span_pairs(t["documents"], key_mode="bogus")


def test_removal_spans_semantics(spark):
    """Hand-built corpus: a shared 6-token run produces exactly its
    char interval in both docs; overlapping duplicated spans merge
    into ONE island; text unique to a doc is never cut."""
    from radmapper_spark.operators import dedup
    shared = "one two three four five six"          # 6 shared tokens
    d1 = f"alpha {shared} omega"
    d2 = f"{shared} zulu"
    docs = _docs(spark, [(1, d1), (2, d2)])
    out = {(r.doc_id): (r.cut_start, r.cut_end, r.n_spans)
           for r in dedup.substring_removal_spans(
               docs, span_tokens=6, min_doc_freq=2).collect()}
    # doc 1: 'alpha ' is 6 chars -> shared run at [6, 6+len(shared))
    assert out[1] == (6, 6 + len(shared), 1)
    # doc 2: run starts at 0
    assert out[2] == (0, len(shared), 1)


def test_removal_spans_merge_overlapping(spark):
    """Two overlapping duplicated windows merge into one cut range
    with n_spans = 2; a doc-unique middle never splits it."""
    from radmapper_spark.operators import dedup
    run = "a b c d"                                  # 4 tokens
    docs = _docs(spark, [(1, f"{run} x"), (2, f"{run} x"),
                         (3, "q w e r t")])
    out = {r.doc_id: (r.cut_start, r.cut_end, r.n_spans)
           for r in dedup.substring_removal_spans(
               docs, span_tokens=3, min_doc_freq=2).collect()}
    # docs 1/2 share 'a b c', 'b c d', 'c d x' -> one merged interval
    # covering the whole 'a b c d x' string, 3 overlapping spans
    full = len("a b c d x")
    assert out[1] == (0, full, 3) and out[2] == (0, full, 3)
    assert 3 not in out


def test_removal_spans_self_repetition_not_cut(spark):
    """min_doc_freq counts DISTINCT docs: a span repeated inside ONE
    document only is not duplication across the corpus."""
    from radmapper_spark.operators import dedup
    docs = _docs(spark, [(1, "p q r p q r"), (2, "x y z w v u")])
    out = dedup.substring_removal_spans(
        docs, span_tokens=3, min_doc_freq=2).collect()
    assert out == []


def test_removal_spans_matches_oracle_sf001(spark):
    df = entrymod.queries()["substring_removal_spans"](spark, SF_SMOKE)
    assert_matches_oracle(
        df, entrymod.oracle_sql()["substring_removal_spans"], SF_SMOKE)


# ======================== from test_round11.py (r14 consolidation) ========
def _docs_r11(spark, rows, schema="doc_id long, text string"):
    return spark.createDataFrame(rows, schema)


DUPTXT = ("the quick brown fox jumps over the lazy dog again and again "
          "until the fence falls and the farmer wakes to chase it away")


def test_span_ops_accept_string_doc_ids(spark):
    """r10 advice: the Arrow span kernel hardcoded 'id long'; a corpus
    with STRING doc ids must behave identically to the Catalyst path
    instead of failing with an Arrow cast error."""
    rows = [("a1", DUPTXT), ("b2", DUPTXT), ("c3", "short unrelated")]
    docs = _docs_r11(spark, rows, "doc_id string, text string")
    arrow = dedup.repeated_span_pairs(docs, span_tokens=5,
                                      span_mode="arrow").collect()
    cat = dedup.repeated_span_pairs(docs, span_tokens=5,
                                    span_mode="catalyst").collect()
    key = lambda r: (r.id_a, r.id_b, r.n_shared_spans)
    assert sorted(map(key, arrow)) == sorted(map(key, cat))
    assert arrow and arrow[0].id_a == "a1"
    cuts = dedup.substring_removal_spans(docs, span_tokens=5,
                                         min_doc_freq=2).collect()
    assert cuts and {r.doc_id for r in cuts} == {"a1", "b2"}
    assert all(isinstance(r.doc_id, str) for r in cuts)


def test_span_ops_long_ids_unchanged(spark):
    """Bigint ids keep the exact pre-fix schema (no regression)."""
    docs = _docs_r11(spark, [(1, DUPTXT), (2, DUPTXT)])
    out = dedup.repeated_span_pairs(docs, span_tokens=5)
    assert dict(out.dtypes)["id_a"] == "bigint"
    assert out.collect()[0].n_shared_spans > 0


def test_minhash_base_param_mismatch_raises(spark):
    docs = _docs_r11(spark, [(1, DUPTXT), (2, DUPTXT)])
    base = dedup.minhash_base(docs, num_hashes=16)
    with pytest.raises(ValueError, match="num_hashes.*base=16"):
        dedup.minhash_lsh_pairs(docs, num_hashes=32, base=base)
    # matching params pass through
    ok = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8, base=base)
    assert ok.count() == 1


def test_minhash_attrless_base_sample_check(spark):
    """A base frame that lost its attr (round-tripped through a select)
    still fails loudly via the one-row signature-length probe."""
    docs = _docs_r11(spark, [(1, DUPTXT), (2, DUPTXT)])
    stripped = dedup.minhash_base(docs, num_hashes=16).select("id", "minhash")
    assert getattr(stripped, "rm_base_params", None) is None
    with pytest.raises(ValueError, match="16-hash"):
        dedup.minhash_lsh_pairs(docs, num_hashes=32, base=stripped)


def test_simhash_base_param_mismatch_raises(spark):
    docs = _docs_r11(spark, [(1, DUPTXT), (2, DUPTXT)])
    base = dedup.simhash_base(docs, hash_mode="portable", nbits=60)
    with pytest.raises(ValueError, match="hash_mode"):
        dedup.simhash_pairs(docs, hash_mode="xxhash64", base=base)


def test_apply_removal_spans_semantics(spark):
    """Cuts remove exactly [cut_start, cut_end) from the NORMALIZED
    text; docs without ranges pass through normalized-intact."""
    docs = _docs_r11(spark, [(1, "  AA bb   cc dd  "), (2, "keep me whole")])
    spans = spark.createDataFrame([(1, 3, 8)],
                                  "doc_id long, cut_start long, cut_end long")
    out = {r.doc_id: r for r in
           dedup.apply_removal_spans(docs, spans).collect()}
    # normalized doc 1 = "aa bb cc dd"; cutting [3, 8) removes "bb cc"
    assert (out[1].clean_text, out[1].n_cut, out[1].n_chars_cut) \
        == ("aa  dd", 1, 5)
    assert (out[2].clean_text, out[2].n_cut) == ("keep me whole", 0)


def test_apply_removal_spans_full_and_multi_cut(spark):
    docs = _docs_r11(spark, [(1, "gone entirely"), (2, "a b c d e f")])
    spans = spark.createDataFrame(
        [(1, 0, 13), (2, 0, 3), (2, 6, 9)],
        "doc_id long, cut_start long, cut_end long")
    out = {r.doc_id: r for r in
           dedup.apply_removal_spans(docs, spans).collect()}
    assert (out[1].clean_text, out[1].n_chars_cut) == ("", 13)
    # "a b c d e f" minus [0,3)="a b" and [6,9)="d e": kept pieces are
    # s[3:6]=" c " and s[9:]=" f" (cuts are literal intervals — the
    # surrounding separators survive)
    assert (out[2].n_cut, out[2].n_chars_cut) == (2, 6)
    assert out[2].clean_text == " c  f"


def test_scrub_roundtrip_removes_duplicated_runs(spark):
    """End-to-end: the scrubbed corpus has NO remaining k-token run
    shared by >= 2 docs (the Lee et al. fixpoint property on docs whose
    duplicated material is contiguous)."""
    k = 6
    docs = _docs_r11(spark, [
        (1, DUPTXT), (2, DUPTXT + " unique tail one"),
        (3, "prefix three " + DUPTXT), (4, "totally unrelated text here")])
    spans = dedup.substring_removal_spans(docs, span_tokens=k,
                                          min_doc_freq=2)
    clean = dedup.apply_removal_spans(docs, spans).select(
        "doc_id", F.col("clean_text").alias("text"))
    again = dedup.substring_removal_spans(clean, span_tokens=k,
                                          min_doc_freq=2).collect()
    assert again == []


def test_scrub_chains_into_doc_chunks(spark):
    """Composability (r10 verdict item #2): the scrubbed corpus feeds
    chunking directly — chunk text comes from clean_text only."""
    docs = _docs_r11(spark, [(1, DUPTXT + " alpha beta gamma delta"),
                         (2, DUPTXT)])
    spans = dedup.substring_removal_spans(docs, span_tokens=6,
                                          min_doc_freq=2)
    clean = dedup.apply_removal_spans(docs, spans)
    chunks = chunking.chunk_documents(
        clean.select("doc_id", F.col("clean_text").alias("text")),
        chunk_tokens=4, overlap=0)
    got = chunks.filter(F.col("doc_id") == 1).orderBy("chunk_seq").collect()
    assert got and all("quick" not in c.chunk_text for c in got)
    assert "alpha" in got[0].chunk_text


# ======================== from test_round13.py (r14 consolidation) ========
def test_keep_best_max_score_with_ties(spark):
    """keep_best keeps the highest-scored member per component (ties ->
    lowest id) and counts only SCORED members."""
    from radmapper_spark.operators import dedup
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id long, component long")
    scored = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7), (6, -2)],
        "doc_id long, score_micro long")  # doc 5 unscored
    got = {r["component"]: (r["doc_id"], r["score_micro"], r["n_members"])
           for r in dedup.keep_best(groups, scored).collect()}
    assert got == {1: (2, 30, 3),   # tie 2 vs 3 -> lowest id
                   4: (4, 7, 1),    # doc 5 unscored: not counted
                   6: (6, -2, 1)}


def test_dedup_rate_report_counts(spark):
    """The report's three counters recomputed independently on a tiny
    synthetic near-dup universe via the operator pieces."""
    from radmapper_spark.operators import dedup
    docs = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(10)], "doc_id long, source string")
    pairs = spark.createDataFrame(
        [(0, 2), (2, 4), (1, 3), (5, 7)], "id_a long, id_b long")
    groups = dedup.dedup_groups(
        docs.withColumnRenamed("doc_id", "doc_id"), pairs)
    sizes = {r["component"]: 0 for r in groups.collect()}
    comp_of = {r["doc_id"]: r["component"] for r in groups.collect()}
    for c in comp_of.values():
        sizes[c] = sizes.get(c, 0) + 1
    want = {}
    for d in range(10):
        src = f"s{d % 2}"
        n, dup, comps = want.get(src, (0, 0, set()))
        n += 1
        dup += 1 if sizes[comp_of[d]] > 1 else 0
        comps = comps | {comp_of[d]}
        want[src] = (n, dup, comps)
    got = {r["source"]: (r["n_docs"], r["n_dup_docs"], r["n_groups"])
           for r in dedup.rate_report(groups, docs).collect()}
    assert got == {s: (n, dup, len(comps))
                   for s, (n, dup, comps) in want.items()}


def test_prefix_filter_candidates_lossless(spark):
    """The AllPairs/PPJoin prefix-filter candidate join must be a
    SUPERSET of every pair with Jaccard >= 1/2 under the same
    source/length constraints — on an adversarial corpus: tiny vocab
    (high accidental similarity), exact dups, near dups, singleton and
    empty-ish docs. Brute force is the ground truth."""
    import itertools

    rows = []
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    for i in range(40):
        # deterministic word soup, 3-8 distinct words
        words = [vocab[(i * 7 + j * 3) % 8] for j in range(3 + i % 6)]
        if i % 9 == 0 and i > 0:
            words = [vocab[((i - 9) * 7 + j * 3) % 8]
                     for j in range(3 + (i - 9) % 6)]  # exact dup of i-9
        rows.append((i, " ".join(words), f"src{i % 3}",
                     len(" ".join(words))))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars int")

    cand = {(r["id_a"], r["id_b"]) for r in
            dedup.prefix_filter_candidates(
                df, n=1, threshold_num=1, threshold_den=2,
                keys=("source",), length_col="n_chars",
                length_window=40).collect()}

    def toks(t):
        return set(t.lower().split())

    truth = set()
    for (ia, ta, sa, na), (ib, tb, sb, nb) in \
            itertools.combinations(rows, 2):
        if sa != sb or abs(na - nb) > 40:
            continue
        A, B = toks(ta), toks(tb)
        if A and B and len(A & B) * 2 >= len(A | B):
            truth.add((min(ia, ib), max(ia, ib)))

    missed = truth - cand
    assert not missed, f"prefix filter lost true pairs: {missed}"
    assert truth, "vacuous: ground truth empty — rebuild the fixture"
