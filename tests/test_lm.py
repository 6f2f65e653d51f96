"""Interpolated-KN LM scoring and buckets (operators/lm.py).

Consolidated from the per-round test files (r14 governance pass) — test bodies unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
import __spark_entry__ as entrymod
from radmapper_spark.operators import lm
from tests.conftest import SF_SMOKE
from tests.oracle import assert_matches_oracle, duck_conn

# ======================== from test_round10.py ========
REF_PRED = "source IN ('src0', 'src1', 'src2')"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lm_score_empty_reference(spark):
    """An empty reference slice must not crash (coalesce guards in the
    consts aggregate): every position falls to the OOV floor with
    n_uni=1, v=1."""
    docs = _docs(spark, [(1, "alpha beta gamma")])
    ref = _docs(spark, []).filter(F.lit(False))
    out = lm.lm_score(docs, ref).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_scored, r.n_hit, r.n_backoff, r.n_oov) == (2, 0, 0, 2)
    # OOV floor with empty model: ln(0.4 / (1 + 1)) per position
    import math
    expect = math.floor(math.log(0.4 / 2.0) * 1e6) * 2
    assert r.lp_micro == expect


def test_lm_score_short_docs_excluded(spark):
    """Docs with < 2 tokens contribute no positions and emit NO row —
    mirrored by the oracle's len(t) >= 2 guard."""
    docs = _docs(spark, [(1, "solo"), (2, ""), (3, "two tokens"),
                         (4, "numbers 123 only 456")])
    ref = _docs(spark, [(9, "two tokens two tokens")])
    got = {r.doc_id for r in lm.lm_score(docs, ref).collect()}
    assert got == {3, 4}


def test_lm_score_branch_accounting(spark):
    """hit / backoff / oov partition the positions exactly."""
    ref = _docs(spark, [(9, "the cat sat the cat ran")])
    docs = _docs(spark, [(1, "the cat sat zzz")])
    r = lm.lm_score(docs, ref, min_bigram=2).collect()[0]
    # positions: (the,cat) c_ab=2 -> hit; (cat,sat) c_ab=1 < min_bigram
    # -> backoff (sat in vocab); (sat,zzz) -> oov (zzz unseen)
    assert (r.n_scored, r.n_hit, r.n_backoff, r.n_oov) == (3, 1, 1, 1)


def test_lm_score_parallelism_independent(spark):
    """lp_micro is a BIGINT sum of per-position floored micro-nats —
    repartitioning the corpus must not change a single bit."""
    docs = entrymod.load_tables(spark, SF_SMOKE)["documents"]
    ref = docs.filter(F.expr(REF_PRED))
    a = {r.doc_id: r.lp_micro
         for r in lm.lm_score(docs, ref).collect()}
    b = {r.doc_id: r.lp_micro
         for r in lm.lm_score(docs.repartition(17), ref).collect()}
    assert a == b


def test_lm_bucket_tercile_vs_duckdb_ntile(spark):
    """head/middle/tail equality against DuckDB's ntile — the bucket
    boundary is where a distributed ntile diverges first. Run at
    sf0.001 via the entry itself (full-path check incl. release)."""
    df = entrymod.queries()["lm_bucket"](spark, SF_SMOKE)
    assert_matches_oracle(df, entrymod.oracle_sql()["lm_bucket"],
                          SF_SMOKE)
    rel = getattr(df, "rm_release_cache", None)
    assert rel is not None, "lm_bucket lost the ntile cache release handle"
    rel()


def test_lm_bucket_tie_determinism(spark):
    """Identical docs (identical lp_micro/n_scored keys) must bucket by
    doc_id order — the tercile is deterministic, never partition-luck."""
    rows = [(i, "same words repeated here") for i in range(1, 10)]
    docs = _docs(spark, rows)
    ref = _docs(spark, [(0, "same words repeated here same words")])
    out = lm.lm_bucket(lm.lm_score(docs, ref))
    got = {r.doc_id: r.bucket for r in out.collect()}
    assert got == {1: "head", 2: "head", 3: "head",
                   4: "middle", 5: "middle", 6: "middle",
                   7: "tail", 8: "tail", 9: "tail"}


def test_lm_vocab_cut_is_integer_ordered(spark):
    """The top_v vocabulary cut orders on (count desc, term asc) —
    deterministic under ties, never a float rank."""
    ref = _docs(spark, [(9, "bb aa bb aa cc")])
    docs = _docs(spark, [(1, "aa bb cc")])
    # top_v=2 keeps {aa, bb} (tie on count=2 breaks alphabetically
    # irrelevant here; cc count=1 is cut) -> (bb,cc) position is OOV
    r = lm.lm_score(docs, ref, top_v=2, min_bigram=1).collect()[0]
    assert r.n_oov == 1


def test_lm_score_matches_oracle_sf001(spark):
    """Belt-and-braces: the lm_score entry's oracle equality (also run
    by test_headline's sweep — kept here so the round-10 file fails
    standalone if the wiring regresses)."""
    df = entrymod.queries()["lm_score"](spark, SF_SMOKE)
    assert_matches_oracle(df, entrymod.oracle_sql()["lm_score"],
                          SF_SMOKE)
