"""Persisted near-dup/ANN index machinery: metadata guards, append/rebuild, compaction, probes (operators/dedup.py + index_meta.py).

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
def test_minhash_index_probe_equals_batch(spark, tmp_path):
    """Index the corpus, probe with a doc batch: the probe's pair set
    over (new x indexed) must equal the batch operator's pairs restricted
    to the same sides — same signatures, same banding, same estimate."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.session import load_tables
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "mh_index")
    dedup.build_minhash_index(old, path)
    got = {(r.new_id, r.index_id): r.est_jaccard for r in
           dedup.neardup_vs_index(new, path,
                                  jaccard_threshold=0.5).collect()}
    full = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    olds = {r.doc_id for r in old.select("doc_id").collect()}
    news = {r.doc_id for r in new.select("doc_id").collect()}
    want = {}
    for r in full.collect():
        if r.id_a in news and r.id_b in olds:
            want[(r.id_a, r.id_b)] = r.est_jaccard
        elif r.id_b in news and r.id_a in olds:
            want[(r.id_b, r.id_a)] = r.est_jaccard
    rel = getattr(full, "rm_release_cache", None)
    rel and rel()
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_minhash_index_probe_prunes_partitions(spark, tmp_path):
    """The probe scan must carry partition filters on band (the index's
    bands/ table is partitioned by band below the batch column, and the
    probe joins on it)."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.session import load_tables
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    path = str(tmp_path / "mh_index2")
    dedup.build_minhash_index(docs, path)
    import os
    bands = [d for d in os.listdir(f"{path}/bands/_rm_batch_id=-1")
             if d.startswith("band=")]
    assert len(bands) == 8


# ======================== from test_round8.py (r14 consolidation) ========
SF_SMOKE = "/root/testdata/sf0.001"


def _tiny_docs(spark):
    rows = [(i, f"the quick brown fox jumps over dog number {i % 3} "
                f"with some shared text body for shingles") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tiny_emb(spark, ids=None):
    import random
    rng = random.Random(7)
    ids = ids if ids is not None else list(range(30))
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_minhash_index_meta_mismatch_raises(spark, tmp_path):
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mh")
    dedup.build_minhash_index(docs, path)
    # matched probe runs
    dedup.neardup_vs_index(docs, path).collect()
    with pytest.raises(IndexParamMismatch, match="num_hashes"):
        dedup.neardup_vs_index(docs, path, num_hashes=16, bands=4)
    with pytest.raises(IndexParamMismatch, match="hash_mode"):
        dedup.neardup_vs_index(docs, path, hash_mode="portable")


def test_signlsh_index_meta_mismatch_raises(spark, tmp_path):
    """An index whose sidecar says it is a banded sign-LSH index (the
    layout before the exact vectors index) must raise on probe AND on
    append instead of being misread or mixed with new rows."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    emb = _tiny_emb(spark)
    path = str(tmp_path / "sl")
    dedup.build_embedding_index(emb, path)
    assert dedup.neardup_embedding_vs_index(emb, path).count() >= 30
    _rewrite_sidecar(path, {"kind": "signlsh", "bands": 192,
                            "planes_per_band": 8, "sketch_planes": 512,
                            "seed": 42})
    with pytest.raises(IndexParamMismatch, match="kind"):
        dedup.neardup_embedding_vs_index(emb, path)
    with pytest.raises(IndexParamMismatch, match="append_to_embedding"):
        dedup.append_to_embedding_index(emb, path)


def test_ivf_search_rejects_wrong_index_kind(spark, tmp_path):
    from radmapper_spark.operators import dedup, similarity
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    emb = _tiny_emb(spark)
    path = str(tmp_path / "sl2")
    dedup.build_embedding_index(emb, path)
    q = emb.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(IndexParamMismatch, match="kind"):
        similarity.search_ivf_index(spark, path, q, k=3)


def test_index_meta_invisible_to_parquet_reader(spark, tmp_path):
    """The _meta sidecar must not pollute the index data scan (underscore
    paths are hidden from Hadoop input listings)."""
    from radmapper_spark.operators import dedup
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mh2")
    dedup.build_minhash_index(docs, path)
    cols = set(spark.read.parquet(path).columns)
    assert cols == {"band", "bhash", "id", "minhash", "_rm_batch_id"}


def test_embedding_probe_string_ids(spark, tmp_path):
    """$probeEmbeddingIndex is exposed to arbitrary tables: the probe's
    output id columns must carry the INPUT id types, not hardcoded
    bigint."""
    from radmapper_spark.operators import dedup
    vecs = {"a": [1.0, 0.0, 0.0, 0.5], "b": [0.0, 1.0, 0.0, 0.5],
            "c": [0.0, 0.0, 1.0, 0.5]}
    corpus = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()],
        "vec_id string, embedding array<double>")
    path = str(tmp_path / "slstr")
    dedup.build_embedding_index(corpus, path)
    probe = spark.createDataFrame(
        [("p1", vecs["a"])], "vec_id string, embedding array<double>")
    out = dedup.neardup_embedding_vs_index(probe, path, threshold=0.99)
    dt = dict(out.dtypes)
    assert dt["new_id"] == "string" and dt["index_id"] == "string"
    rows = out.collect()
    assert {(r.new_id, r.index_id) for r in rows} == {("p1", "a")}
    assert abs(rows[0].cosine - 1.0) < 1e-12


def _gate_runs(left, right, path):
    """(rows, plan, rm_broadcast_path) of cosine_join(left, right, 0.9)
    and of the index probe of `right` against `path`, which is that
    cosine_join with the index vectors on the left."""
    from radmapper_spark.operators import dedup
    out = dedup.cosine_join(left, right, threshold=0.9)
    probe = dedup.neardup_embedding_vs_index(right, path, threshold=0.9)
    return [({(r[0], r[1], round(r[2], 9)) for r in df.collect()},
             df._jdf.queryExecution().executedPlan().toString(),
             df.rm_broadcast_path) for df in (out, probe)]


def test_embedding_probe_broadcast_gated_by_size(spark, tmp_path):
    """The gate lives in cosine_join's two-sided branch: with
    rm.broadcastMaxBytes=1 its right side (the probe batch) must NOT be
    broadcast (the block rows meet in a shuffled cartesian product),
    and results must be identical to the broadcast path. The right
    side comes from parquet so the optimizer has REAL size stats:
    stats-less frames (local relations, streaming micro-batches) carry
    the no-stats sentinel and deliberately KEEP the broadcast."""
    from radmapper_spark.operators import dedup
    _tiny_emb(spark).write.parquet(str(tmp_path / "embp"))
    emb = spark.read.parquet(str(tmp_path / "embp"))
    path = str(tmp_path / "slbc")
    dedup.build_embedding_index(emb, path)
    vecs = spark.read.parquet(f"{path}/vectors")
    bc = _gate_runs(vecs, emb, path)
    spark.conf.set("rm.broadcastMaxBytes", "1")
    try:
        sh = _gate_runs(vecs, emb, path)
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")
    for (bc_rows, bc_plan, bc_flag), (sh_rows, sh_plan, sh_flag) in \
            zip(bc, sh):
        assert (bc_flag, sh_flag) == (True, False)
        assert "BroadcastExchange" in bc_plan
        assert "BroadcastExchange" not in sh_plan
        assert sh_rows == bc_rows
        # every vector meets itself (cos=1.0), so the plan really ran
        assert len(bc_rows) >= 30, "no pairs — test is vacuous"


def test_index_rebuild_updates_meta(spark, tmp_path):
    """Rebuilding an index at the same path with different parameters
    must refresh the _meta sidecar: probes with the OLD params raise,
    probes with the new params run."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mh_rebuild")
    dedup.build_minhash_index(docs, path)  # defaults: 32 hashes, 8 bands
    dedup.neardup_vs_index(docs, path).collect()
    dedup.build_minhash_index(docs, path, num_hashes=16, bands=4)
    with pytest.raises(IndexParamMismatch):
        dedup.neardup_vs_index(docs, path)  # old (default) params
    dedup.neardup_vs_index(docs, path, num_hashes=16, bands=4).collect()


def test_minhash_append_equals_full_rebuild(spark, tmp_path):
    """build(corpus) + append(batch) must answer probes identically to
    build(corpus ∪ batch): the admitted batch is fully visible and the
    original index rows are untouched."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.session import load_tables
    docs = load_tables(spark, SF_SMOKE)["documents"]
    base = docs.filter(F.col("doc_id") % 3 == 0)
    admit = docs.filter(F.col("doc_id") % 3 == 1)
    probe = docs.filter(F.col("doc_id") % 3 == 2)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    dedup.build_minhash_index(base, inc)
    dedup.append_to_minhash_index(admit, inc)
    dedup.build_minhash_index(base.unionByName(admit), full)
    got = {(r.new_id, r.index_id, r.est_jaccard)
           for r in dedup.neardup_vs_index(probe, inc).collect()}
    want = {(r.new_id, r.index_id, r.est_jaccard)
            for r in dedup.neardup_vs_index(probe, full).collect()}
    assert got == want and want, "append diverged from full rebuild"


def test_minhash_append_param_mismatch_raises(spark, tmp_path):
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mh_ap")
    dedup.build_minhash_index(docs, path)
    with pytest.raises(IndexParamMismatch, match="append_to_minhash"):
        dedup.append_to_minhash_index(docs, path, num_hashes=16, bands=4)


def test_embedding_append_equals_full_rebuild(spark, tmp_path):
    from radmapper_spark.operators import dedup
    from radmapper_spark.session import load_tables
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    base = emb.filter(F.col("vec_id") % 3 == 0)
    admit = emb.filter(F.col("vec_id") % 3 == 1)
    probe = emb.filter(F.col("vec_id") % 3 == 2)
    inc, full = str(tmp_path / "sinc"), str(tmp_path / "sfull")
    dedup.build_embedding_index(base, inc)
    dedup.append_to_embedding_index(admit, inc)
    dedup.build_embedding_index(base.unionByName(admit), full)

    def hits(path):
        df = dedup.neardup_embedding_vs_index(probe, path, threshold=0.4)
        return {(r.new_id, r.index_id, round(r.cosine, 9))
                for r in df.collect()}

    got, want = hits(inc), hits(full)
    assert got == want and want, "append diverged from full rebuild"


def test_compact_minhash_index_after_repeated_admit(spark, tmp_path):
    """A repeated out-of-stream admit of the same batch leaves duplicate
    rows in the seed; compaction removes exactly them, preserves the
    _meta sidecar, and probes answer identically before/after."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mhc")
    dedup.build_minhash_index(docs.filter(F.col("doc_id") < 10), path)
    batch = docs.filter(F.col("doc_id") >= 10)
    dedup.append_to_minhash_index(batch, path)
    dedup.append_to_minhash_index(batch, path)  # repeated admit
    probe = docs.limit(5)
    before = {(r.new_id, r.index_id, r.est_jaccard)
              for r in dedup.neardup_vs_index(probe, path).collect()}
    n_batch_rows = batch.count() * 8  # 8 bands per doc
    removed = dedup.compact_minhash_index(spark, path)
    assert removed == n_batch_rows, \
        "compaction must drop exactly the repeated admit"
    after = {(r.new_id, r.index_id, r.est_jaccard)
             for r in dedup.neardup_vs_index(probe, path).collect()}
    assert after == before and before
    # the sidecar survived: a mismatched probe still raises
    with pytest.raises(IndexParamMismatch):
        dedup.neardup_vs_index(probe, path, num_hashes=16, bands=4)


def test_embedding_probe_stats_less_batch_keeps_broadcast(spark, tmp_path):
    """Stats-less probe batches (local relations, foreachBatch micro-
    batches) carry Catalyst's no-stats sentinel (~Long.MaxValue) — the
    size gate in cosine_join must treat that as UNKNOWN and keep the
    broadcast, even under a tiny rm.broadcastMaxBytes (regression
    guard: a first cut read the sentinel as 'too big' and silently
    shuffled every in-memory probe batch)."""
    from radmapper_spark.operators import dedup
    emb = _tiny_emb(spark)  # local relation: no real stats
    path = str(tmp_path / "slsent")
    dedup.build_embedding_index(emb, path)
    spark.conf.set("rm.broadcastMaxBytes", "1")
    try:
        runs = _gate_runs(spark.read.parquet(f"{path}/vectors"), emb, path)
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")
    for rows, plan, flag in runs:
        assert flag is True
        assert "BroadcastExchange" in plan, \
            "no-stats probe batch must still broadcast"
        assert len(rows) >= 30


def test_compact_embedding_index_after_repeated_admit(spark, tmp_path):
    """A repeated embedding admit leaves duplicate vectors rows;
    compaction removes exactly them (one row per repeated vector),
    preserves the _meta sidecar, and probes answer identically."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import read_index_meta
    emb = _tiny_emb(spark)
    path = str(tmp_path / "slc")
    dedup.build_embedding_index(emb.filter(F.col("vec_id") < 20), path)
    batch = emb.filter(F.col("vec_id") >= 20)
    dedup.append_to_embedding_index(batch, path)
    dedup.append_to_embedding_index(batch, path)  # repeated admit

    def probe():
        df = dedup.neardup_embedding_vs_index(emb, path, threshold=0.9)
        return {(r.new_id, r.index_id, round(r.cosine, 9))
                for r in df.collect()}

    before = probe()
    removed = dedup.compact_embedding_index(spark, path)
    assert removed == batch.count()
    assert probe() == before and before
    assert read_index_meta(spark, path) == {"kind": "vectors"}


def test_compact_builtins(spark, tmp_path):
    """$compactNearDupIndex from RM source returns the removed count."""
    from radmapper_spark.lang.interp import Interp
    from radmapper_spark.operators import dedup
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mhb")
    dedup.build_minhash_index(docs.filter(F.col("doc_id") < 10), path)
    batch = docs.filter(F.col("doc_id") >= 10)
    dedup.append_to_minhash_index(batch, path)
    dedup.append_to_minhash_index(batch, path)
    ip = Interp(spark)
    removed = ip.run_raw("$compactNearDupIndex($p)",
                         bindings={"$p": path})
    assert removed == batch.count() * 8


def test_compact_embedding_builtin(spark, tmp_path):
    """$compactEmbeddingIndex from RM source returns the removed count
    (one vectors row per repeated vector)."""
    from radmapper_spark.lang.interp import Interp
    from radmapper_spark.operators import dedup
    emb = _tiny_emb(spark)
    path = str(tmp_path / "slb")
    dedup.build_embedding_index(emb.filter(F.col("vec_id") < 20), path)
    batch = emb.filter(F.col("vec_id") >= 20)
    dedup.append_to_embedding_index(batch, path)
    dedup.append_to_embedding_index(batch, path)  # repeated admit
    ip = Interp(spark)
    removed = ip.run_raw("$compactEmbeddingIndex($p)",
                         bindings={"$p": path})
    assert removed == batch.count()


# ======================== from test_round9.py (r14 consolidation) ========
def test_probe_broadcast_gate_sizes_single_side(spark, tmp_path):
    """A mid-size stats-bearing probe batch must KEEP the broadcast:
    each side here is ~300 KB, so a join-PRODUCT estimate (~90 GB)
    would silently lose the broadcast while the honest single-side size
    of cosine_join's right side is far under the 256 MiB default cap."""
    from radmapper_spark.operators import dedup
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)])
            for i in range(600)]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.mode("overwrite").parquet(str(tmp_path / "emb"))
    emb = spark.read.parquet(str(tmp_path / "emb"))
    from radmapper_spark.operators.plan_stats import est_plan_bytes
    one_side = est_plan_bytes(emb)
    assert one_side is not None and one_side > 16384, \
        "fixture too small for the product-vs-side distinction"
    path = str(tmp_path / "slidx")
    dedup.build_embedding_index(emb, path)
    out = dedup.neardup_embedding_vs_index(emb, path, threshold=0.9)
    assert out.rm_broadcast_path is True
    assert out.count() >= 600  # self-probe: every vector hits itself


def _tiny_docs_r9(spark):
    rows = [(i, f"the quick brown fox jumps over dog number {i % 3} "
                f"with some shared text body for shingles")
            for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_compact_swap_failure_keeps_live_index(spark, tmp_path,
                                               monkeypatch):
    """A failure moving the compacted copy into place must leave the
    ORIGINAL index readable under its canonical path (the old
    delete-then-move ordering left no index at all)."""
    import shutil
    from radmapper_spark.operators import dedup
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mh")
    dedup.build_minhash_index(docs, path)
    dedup.append_to_minhash_index(docs.limit(3), path)  # repeated admit
    before = spark.read.parquet(path).count()

    real_move = shutil.move

    def boom(src, dst):
        raise OSError("simulated crash during swap")

    monkeypatch.setattr(shutil, "move", boom)
    with pytest.raises(OSError, match="simulated crash"):
        dedup.compact_minhash_index(spark, path)
    monkeypatch.setattr(shutil, "move", real_move)
    # live index restored under the canonical path, no debris left
    table = f"{path}/bands"
    assert spark.read.parquet(path).count() == before
    assert not os.path.exists(table + "__old")
    assert not os.path.exists(table + "__compact")
    # and a subsequent compaction (move works again) succeeds
    removed = dedup.compact_minhash_index(spark, path)
    assert removed > 0
    assert not os.path.exists(table + "__old")
    assert not os.path.exists(table + "__compact")


def _rewrite_sidecar(path: str, meta: dict) -> None:
    """Simulate ANOTHER PROCESS rewriting <path>/_meta: write the text
    file directly and push the directory mtime forward (local-FS mtime
    is millisecond-granular; successive writes in the same tick would
    hide the change)."""
    d = os.path.join(path, "_meta")
    for f in os.listdir(d):
        if f.endswith(".txt") or f.startswith("part-"):
            os.remove(os.path.join(d, f))
    with open(os.path.join(d, "part-00000-external.txt"), "w") as fh:
        fh.write(json.dumps(meta, sort_keys=True) + "\n")
    future = time.time() + 5
    os.utime(d, (future, future))


def test_index_meta_cache_sees_external_rewrite(spark, tmp_path):
    """A long-lived session must NOT validate probes against a stale
    cached sidecar: after an external rebuild writes new parameters,
    the old-parameter probe must raise (the memoized meta is
    mtime-validated and re-read)."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mhx")
    dedup.build_minhash_index(docs, path, num_hashes=32, bands=8)
    # warm the cache with the build-time parameters
    dedup.neardup_vs_index(docs.limit(2), path,
                           num_hashes=32, bands=8).collect()
    _rewrite_sidecar(path, {"kind": "minhash", "num_hashes": 64,
                            "bands": 16, "shingle_k": 5,
                            "hash_mode": "xxhash64"})
    with pytest.raises(IndexParamMismatch):
        dedup.neardup_vs_index(docs.limit(2), path,
                               num_hashes=32, bands=8).collect()


def test_compact_corrupt_sidecar_missing_kind_raises(spark, tmp_path):
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.index_meta import IndexParamMismatch
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mhk")
    dedup.build_minhash_index(docs, path)
    _rewrite_sidecar(path, {"num_hashes": 32, "bands": 8,
                            "shingle_k": 5, "hash_mode": "xxhash64"})
    with pytest.raises(IndexParamMismatch, match="kind"):
        dedup.compact_minhash_index(spark, path)


def test_index_meta_stat_error_keeps_guard(spark, tmp_path):
    """A failing filesystem read must NOT disable the mismatch guard:
    check_index_meta raises instead of passing as if no sidecar were
    there (a failed read is not an absent sidecar). So does a sidecar
    that does not parse."""
    import types
    from py4j.protocol import Py4JJavaError
    from radmapper_spark.operators import index_meta as im
    p = str(tmp_path / "idx")
    im.write_index_meta(spark, p, "test_kind", {"bands": 8})
    # a session whose every Hadoop FS call fails (an outage): the local
    # filesystem's implementation class cannot be loaded
    conf = spark._jvm.org.apache.hadoop.conf.Configuration(
        spark._jsc.hadoopConfiguration())
    conf.set("fs.file.impl", "no.such.FileSystem")
    conf.set("fs.file.impl.disable.cache", "true")
    failing = types.SimpleNamespace(
        _jvm=spark._jvm,
        _jsc=types.SimpleNamespace(hadoopConfiguration=lambda: conf))
    for bands in (8, 9):
        with pytest.raises(Py4JJavaError):
            im.check_index_meta(failing, p, "test_kind", {"bands": bands},
                                "probe")
    assert im.read_index_meta(spark, p)["bands"] == 8
    d = os.path.join(p, "_meta")
    for f in os.listdir(d):
        if "part-" in f:  # the part file and its checksum
            os.remove(os.path.join(d, f))
    with open(os.path.join(d, "part-00000-external.txt"), "w") as fh:
        fh.write("not json\n")
    with pytest.raises(ValueError):
        im.check_index_meta(spark, p, "test_kind", {"bands": 8}, "probe")


def test_index_meta_read_sees_rewrite_without_a_job(spark, tmp_path):
    """The sidecar is read straight from its part file: after another
    process rewrites it, the next read returns the new parameters and
    runs no Spark job."""
    from radmapper_spark.operators import index_meta as im
    p = str(tmp_path / "idx")
    im.write_index_meta(spark, p, "k", {"bands": 8})
    assert im.read_index_meta(spark, p)["bands"] == 8
    _rewrite_sidecar(p, {"kind": "k", "bands": 16})
    sc = spark.sparkContext
    sc.setJobGroup("g_meta", "g_meta")
    try:
        meta = im.read_index_meta(spark, p)
    finally:
        sc.setJobGroup(None, None)
    assert meta == {"kind": "k", "bands": 16}
    assert len(sc.statusTracker().getJobIdsForGroup("g_meta")) == 0, (
        "reading the sidecar ran a Spark job")


# ======================== from test_round10.py (r14 consolidation) ========
def test_sidecar_rewrite_visible_to_next_read(spark, tmp_path):
    """Rewriting the sidecar through write_index_meta is seen by the
    next read."""
    from radmapper_spark.operators import index_meta as im
    p = str(tmp_path / "idx")
    im.write_index_meta(spark, p, "k", {"bands": 8})
    im.write_index_meta(spark, p, "k", {"bands": 16})
    assert im.read_index_meta(spark, p)["bands"] == 16


def test_spark_written_sidecar_still_read(spark, tmp_path):
    """A sidecar written by Spark's text writer (the earlier writer:
    a part file plus _SUCCESS and checksum files) reads back, and
    rewriting it through write_index_meta replaces it whole."""
    import json as _json
    from radmapper_spark.operators import index_meta as im
    p = str(tmp_path / "idx")
    meta = {"kind": "k", "bands": 8}
    (spark.createDataFrame([(_json.dumps(meta, sort_keys=True),)],
                           "meta string")
     .coalesce(1).write.mode("overwrite").text(f"{p}/_meta"))
    names = os.listdir(f"{p}/_meta")
    assert "_SUCCESS" in names and any(n.startswith("part-")
                                       for n in names)
    assert im.read_index_meta(spark, p) == meta
    im.write_index_meta(spark, p, "k", {"bands": 16})
    assert im.read_index_meta(spark, p) == {"kind": "k", "bands": 16}
    assert [n for n in os.listdir(f"{p}/_meta")
            if not n.startswith(".")] == ["part-00000"]
