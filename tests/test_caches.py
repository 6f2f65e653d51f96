"""Staleness of the sf_dir memo (session.memo): table plans, derived frames, fits, codebooks, probe indexes.

Consolidated from the per-round test files (r14 governance pass)."""

from __future__ import annotations

import os
import subprocess
import sys
import pytest
from pyspark.sql import functions as F
import time
from radmapper_spark.operators import chunking, dedup, graph
from radmapper_spark.operators import multimodal as mm
from radmapper_spark.operators import tokenizer as tk
import shutil
import re
import __spark_entry__ as entrymod

# ======================== from test_round8.py ========
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


SF_SMOKE = "/root/testdata/sf0.001"


def test_table_cache_survives_session_restart():
    """Stop a session, build a new one, and assert fresh usable plans:
    the table cache must key by (applicationId, startTime), never
    id(spark) (CPython reuses freed addresses, so a new session can
    alias a dead one's id and get plans bound to a stopped context).
    Runs in a subprocess so the suite's shared session is untouched."""
    script = r"""
import os, sys
sys.path.insert(0, %r)
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
from radmapper_spark.session import get_spark, load_tables, session_key, _MEMO
a = get_spark("restart-a")
key_a = session_key(a)
t = load_tables(a, %r)
assert t["region"].count() > 0
a.stop()
b = get_spark("restart-b")
key_b = session_key(b)
assert key_a != key_b, "restarted session must get a fresh cache key"
t2 = load_tables(b, %r)
# fresh plans: these frames must be bound to the LIVE session
assert t2["region"].count() > 0
assert t2["orders"].select("o_orderkey").limit(1).collect()
assert all(k[0] == key_b for k in _MEMO["tables"]), "dead-session entries not evicted"
b.stop()
print("RESTART_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script % (REPO, SF_SMOKE, SF_SMOKE)],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "RESTART_OK" in out.stdout


# ======================== from test_round11.py (r14 consolidation) ========
def test_cached_frames_rebuild_on_input_change(spark, tmp_path):
    """r10 verdict item #5: the derived-frame memos revalidate the
    sf_dir parquet fingerprint on every hit — a rewritten input file
    (even same-size) triggers a rebuild instead of serving frames
    pinned over stale data."""
    import shutil

    from radmapper_spark import entrypoints as E
    from radmapper_spark.session import memo_stats, persist, release_memos

    sfd = tmp_path / "sf"
    shutil.copytree("/root/testdata/sf0.001", sfd)
    calls = []

    def build(tables):
        calls.append(1)
        # derive a FRESH frame (load_tables memoizes the raw table
        # object per (session, sf_dir), so persisting it directly would
        # hand every build the same object)
        return {"docs": persist(tables["documents"].select("doc_id"))}

    a = E._frames("test_docs", spark, str(sfd), build)["docs"]
    n_before = a.count()
    b = E._frames("test_docs", spark, str(sfd), build)["docs"]
    assert len(calls) == 1 and a is b  # hit: no rebuild, same frame
    # REAL rewrite — different content AND size (the r11 review case:
    # the rebuild must not read through the table memo's pinned file
    # listing, which would scan the new file with stale offsets)
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM "
                f"'{sfd}/documents.parquet' LIMIT 100")
    con.execute(f"COPY t TO '{sfd}/documents.parquet' (FORMAT PARQUET)")
    rebuilds = memo_stats()["test_docs"]["rebuilds"]
    c = E._frames("test_docs", spark, str(sfd), build)["docs"]
    assert len(calls) == 2 and c is not a  # fingerprint miss: rebuilt
    assert memo_stats()["test_docs"]["rebuilds"] == rebuilds + 1
    assert not a.is_cached  # stale entry was unpersisted
    assert c.count() == 100 and n_before != 100  # fresh data, not memoized
    assert release_memos("test_docs") == 1  # cleanup
    assert not c.is_cached


# ======================== from test_round12.py (r14 consolidation) ========
SF_SMOKE_r12 = "/root/testdata/sf0.001"


def _rewrite_documents(sfd, n_rows=100):
    """Rewrite documents.parquet in place with different content+size."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM "
                f"'{sfd}/documents.parquet' LIMIT {n_rows}")
    con.execute(f"COPY t TO '{sfd}/documents.parquet' (FORMAT PARQUET)")
    con.close()


def test_load_tables_revalidates_on_every_hit(spark, tmp_path):
    """A memoized load followed by an external rewrite returns FRESH
    data on the next load_tables call — no caller-side invalidate."""
    from radmapper_spark.session import load_tables

    sfd = tmp_path / "sf"
    shutil.copytree(SF_SMOKE_r12, sfd)
    n0 = load_tables(spark, str(sfd))["documents"].count()
    assert n0 != 100
    _rewrite_documents(sfd)
    n1 = load_tables(spark, str(sfd))["documents"].count()
    assert n1 == 100  # stale memo detected and rebuilt


def test_first_derived_build_after_rewrite_sees_fresh_data(spark, tmp_path):
    """The r11-advice MEDIUM gap: table memo exists, external rewrite,
    then a derived cache's FIRST-EVER build (cache-miss path — no
    stale-hit invalidate runs). The build must see the rewritten data,
    and the fingerprint it stamps must validate as fresh afterwards."""
    from radmapper_spark import entrypoints as E
    from radmapper_spark.session import persist, release_memos

    sfd = tmp_path / "sf"
    shutil.copytree(SF_SMOKE_r12, sfd)
    # create the table memo BEFORE the rewrite (the pinned listing)
    n0 = E.load_tables(spark, str(sfd))["documents"].count()
    _rewrite_documents(sfd)

    calls = []

    def build(tables):
        calls.append(1)
        return {"docs": persist(tables["documents"].select("doc_id"))}

    a = E._frames("test_docs", spark, str(sfd), build)["docs"]
    assert len(calls) == 1
    assert a.count() == 100 and n0 != 100  # built from FRESH scans
    # and the stamped fingerprint is genuinely fresh: a second call hits
    b = E._frames("test_docs", spark, str(sfd), build)["docs"]
    assert len(calls) == 1 and b is a
    release_memos("test_docs")


def test_bpe_merges_first_build_after_rewrite(spark, tmp_path):
    """Same first-build gap for the BPE merge memo (hit is None path):
    training after an external rewrite must read the rewritten corpus."""
    from radmapper_spark import entrypoints as E

    sfd = tmp_path / "sf"
    shutil.copytree(SF_SMOKE_r12, sfd)
    E.load_tables(spark, str(sfd))  # pin the table memo pre-rewrite
    _rewrite_documents(sfd, n_rows=50)
    merges = E._bpe_merges(spark, str(sfd))
    # independent check: retrain on a FRESH read of the rewritten corpus
    from radmapper_spark.operators import tokenizer
    fresh = spark.read.parquet(f"{sfd}/documents.parquet")
    expect = tokenizer.bpe_train(fresh, n_merges=E._BPE_MERGES,
                                 top_words=E._BPE_TOPW)
    assert merges == expect
    E.release_memos("bpe")


def test_sf_fingerprint_single_stat_and_shape(tmp_path):
    """One os.stat per file; (name, mtime_ns, size) triples, sorted."""
    import os
    from unittest.mock import patch

    from radmapper_spark.session import sf_fingerprint

    d = tmp_path / "sf"
    d.mkdir()
    (d / "b.parquet").write_bytes(b"22")
    (d / "a.parquet").write_bytes(b"1")
    (d / "ignore.txt").write_bytes(b"x")
    real_stat = os.stat
    calls = []

    def counting_stat(p, *a, **k):
        calls.append(p)
        return real_stat(p, *a, **k)

    with patch("radmapper_spark.session.os.stat", counting_stat):
        fp = sf_fingerprint(str(d))
    assert len(calls) == 2  # one stat per parquet file, none doubled
    assert [t[0] for t in fp] == ["a.parquet", "b.parquet"]
    assert [t[2] for t in fp] == [1, 2]
    assert sf_fingerprint(str(d / "missing")) is None


def _rewrite_embeddings(sfd):
    """Rewrite embeddings.parquet in place with half of its rows."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM "
                f"'{sfd}/embeddings.parquet' WHERE vec_id % 2 = 0")
    con.execute(f"COPY t TO '{sfd}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()


@pytest.mark.parametrize("name,kind", [
    ("embedding_pca", "pca_fit"),
    ("quality_probe", "probe_fit"),
    ("embedding_probe", "index:embedding"),
    ("ann_ivf_topk", "codebook:ivf:embedding"),
    ("graph_pagerank", "edges"),
])
def test_entry_memos_rebuild_after_rewrite(spark, tmp_path, name, kind):
    """A mid-session rewrite of embeddings.parquet and documents.parquet
    must rebuild every fit, codebook and index the entry memoized: the
    entry stays equal to its DuckDB oracle over the NEW data, and the
    entry's memo counts one rebuild (a fit keyed without the
    fingerprint kept serving the old corpus's basis). The trade graph's
    ``edges`` memo also holds its node count (the broadcast decision),
    so the count is retaken with the frames, never kept apart."""
    from radmapper_spark import entrypoints as E
    from radmapper_spark.session import memo_stats
    from tests.oracle import assert_matches_oracle

    sfd = tmp_path / "sf"
    shutil.copytree(SF_SMOKE_r12, sfd)
    fn, sql = E.ENTRIES[name][0], E.ENTRIES[name][1]()
    assert_matches_oracle(fn(spark, str(sfd)), sql, str(sfd))
    _rewrite_embeddings(sfd)
    _rewrite_documents(sfd, n_rows=200)
    rebuilds = memo_stats()[kind]["rebuilds"]
    assert_matches_oracle(fn(spark, str(sfd)), sql, str(sfd))
    assert memo_stats()[kind]["rebuilds"] == rebuilds + 1


# ======================== from test_round13.py (r14 consolidation) ========
SF = "/root/testdata/sf0.001"


def test_probe_index_cache_revalidates_fingerprint(spark, tmp_path):
    """_probe_index_path must rebuild when the sf_dir fingerprint
    changes (r13 review: it was the one derived cache still assuming
    immutable fixtures). Simulated with a writable corpus dir."""
    import shutil

    import radmapper_spark.entrypoints as ep

    d = str(tmp_path / "sf")
    shutil.copytree(SF, d)
    builds = []
    p1 = ep._probe_index_path(spark, d, "fprobe",
                              lambda p: builds.append(p))
    p2 = ep._probe_index_path(spark, d, "fprobe",
                              lambda p: builds.append(p))
    assert p1 == p2 and len(builds) == 1, "memo must hold while static"
    # touch one parquet file -> fingerprint changes -> rebuild
    import os
    f = os.path.join(d, "documents.parquet")
    with open(f, "ab") as fh:
        fh.write(b"\x00")
    p3 = ep._probe_index_path(spark, d, "fprobe",
                              lambda p: builds.append(p))
    assert len(builds) == 2, "rewritten corpus must invalidate the memo"
    from radmapper_spark.session import memo_stats
    assert memo_stats()["index:fprobe"]["rebuilds"] >= 1
    assert p3 != p1
    # the stale tree is RETIRED, not deleted in place: DataFrames from
    # earlier calls still lazily reference it (r13 third review; the
    # old `not exists(p1) or p3 != p1` assert was vacuous — p3 is a
    # fresh mkdtemp, so the disjunct always passed)
    assert os.path.exists(p1), "stale tree must survive until purge"
    assert p1 in ep._RETIRED_INDEX_TREES
    # a FAILED build must not leak its partial tree outside the cache
    with open(f, "ab") as fh:
        fh.write(b"\x00")
    with pytest.raises(RuntimeError, match="boom"):
        ep._probe_index_path(spark, d, "fprobe",
                             lambda p: (_ for _ in ()).throw(
                                 RuntimeError("boom")))
    # purge reclaims both the live and the retired trees
    ep.purge_probe_indexes()
    assert not os.path.exists(p1) and not os.path.exists(p3)


def test_codegen_cache_holds_the_warm_working_set(spark):
    """graph_communities, materialize_training_shards and decontam_ngram
    together generate more classes than Spark's default codegen cache
    holds (100), so under it a repeat run recompiles its evicted
    classes. The session's cache (session.CODEGEN_CACHE_ENTRIES) holds
    them: a second run compiles none."""
    from radmapper_spark import entrypoints as E

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in ("graph_communities", "materialize_training_shards",
                     "decontam_ngram"):
            df = E.ENTRIES[name][0](spark, SF_SMOKE)
            df.collect()
            release = getattr(df, "rm_release_cache", None)
            if release is not None:
                release()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles()
    assert compiles() == 0
