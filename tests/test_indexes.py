"""Persisted near-dup/ANN index machinery: build-parameter guards, append/rebuild, compaction, probes (operators/dedup.py).

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
    from radmapper_spark.operators.dedup import IndexParamMismatch
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
    """An index whose table records a banded sign-LSH build (the index
    before the exact vectors index), or records nothing (any index
    written before the record existed), must raise on probe AND on
    append instead of being misread or mixed with new rows."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
    emb = _tiny_emb(spark)
    path = str(tmp_path / "sl")
    dedup.build_embedding_index(emb, path)
    assert dedup.neardup_embedding_vs_index(emb, path).count() >= 30
    _rewrite_index(spark, path, "vectors", "v",
                   {"kind": "signlsh", "bands": 192, "planes_per_band": 8,
                    "sketch_planes": 512, "seed": 42})
    with pytest.raises(IndexParamMismatch, match="kind"):
        dedup.neardup_embedding_vs_index(emb, path)
    with pytest.raises(IndexParamMismatch, match="append_to_embedding"):
        dedup.append_to_embedding_index(emb, path)
    _rewrite_index(spark, path, "vectors", "v", None)
    with pytest.raises(IndexParamMismatch, match="no build parameters"):
        dedup.neardup_embedding_vs_index(emb, path)
    with pytest.raises(IndexParamMismatch, match="no build parameters"):
        dedup.append_to_embedding_index(emb, path)


def test_ivf_search_rejects_wrong_index_kind(spark, tmp_path):
    """An embedding index searched as IVF raises, and so does an IVF
    index whose centroids record another kind or none."""
    from radmapper_spark.operators import dedup, similarity
    from radmapper_spark.operators.dedup import IndexParamMismatch
    emb = _tiny_emb(spark)
    path = str(tmp_path / "sl2")
    dedup.build_embedding_index(emb, path)
    q = emb.limit(2).select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(IndexParamMismatch, match="kind"):
        similarity.search_ivf_index(spark, path, q, k=3)
    ivf = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, ivf, ncentroids=4)
    assert similarity.search_ivf_index(spark, ivf, q, k=3).count() == 6
    for meta, match in (({"kind": "vectors"}, "kind"),
                        (None, "no build parameters")):
        _rewrite_index(spark, ivf, "centroids", "centroid", meta)
        with pytest.raises(IndexParamMismatch, match=match):
            similarity.search_ivf_index(spark, ivf, q, k=3)


def test_index_meta_invisible_to_parquet_reader(spark, tmp_path):
    """The index root reads as its data table alone: the build
    parameters ride in the table's own schema, with no file beside
    it."""
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
    must refresh the recorded parameters: probes with the OLD params
    raise, probes with the new params run."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
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


def _tree(path):
    """{relative file path: size} under ``path``."""
    return {os.path.relpath(os.path.join(d, f), path):
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs}


def test_minhash_append_param_mismatch_raises(spark, tmp_path):
    """A mixed-parameter append is refused before anything is written:
    Spark reads a table's recorded parameters from one footer, so a
    file of another parameter set could otherwise hide in the table."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
    docs = _tiny_docs(spark)
    path = str(tmp_path / "mh_ap")
    dedup.build_minhash_index(docs, path)
    before = _tree(path)
    for kw in ({"num_hashes": 16, "bands": 4}, {"bands": 4},
               {"shingle_k": 3}, {"hash_mode": "portable"}):
        with pytest.raises(IndexParamMismatch, match="append_to_minhash"):
            dedup.append_to_minhash_index(docs, path, **kw)
    assert _tree(path) == before


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
    rows in the seed; compaction removes exactly them, keeps the
    recorded build parameters, and probes answer identically
    before/after."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
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
    # the record survived the rewrite: mismatched probes and appends
    # still raise
    assert dedup.build_params(spark.read.parquet(f"{path}/bands"),
                              "minhash") == {
        "kind": "minhash", "num_hashes": 32, "bands": 8, "shingle_k": 5,
        "hash_mode": "xxhash64"}
    with pytest.raises(IndexParamMismatch):
        dedup.neardup_vs_index(probe, path, num_hashes=16, bands=4)
    with pytest.raises(IndexParamMismatch):
        dedup.neardup_vs_index(probe, path, bands=4)
    with pytest.raises(IndexParamMismatch):
        dedup.append_to_minhash_index(probe, path, hash_mode="portable")


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
    keeps the recorded kind, and probes answer identically."""
    from radmapper_spark.operators import dedup
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
    assert dedup.build_params(spark.read.parquet(f"{path}/vectors"),
                              "v") == {"kind": "vectors"}


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
    assert spark.read.parquet(path).count() == before
    assert sorted(os.listdir(path)) == ["bands"]
    # and a subsequent compaction (move works again) succeeds
    removed = dedup.compact_minhash_index(spark, path)
    assert removed > 0
    assert sorted(os.listdir(path)) == ["bands"]


def test_compact_killed_before_swap_leaves_index_readable(spark, tmp_path,
                                                          monkeypatch):
    """A compaction killed between writing its staged copy and the swap
    leaves the copy under a hidden name: the index root still reads as
    its one table, a probe answers as before, and the next compaction
    replaces the copy."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import state
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mh")
    dedup.build_minhash_index(docs, path)
    dedup.append_to_minhash_index(docs.limit(3), path)  # repeated admit
    before = spark.read.parquet(path).count()
    probe = docs.limit(4)

    def hits():
        return sorted(tuple(r) for r in
                      dedup.neardup_vs_index(probe, path).collect())

    want = hits()
    monkeypatch.setattr(state, "_swap_dir", lambda path, tmp: None)
    dedup.compact_minhash_index(spark, path)  # "killed" before the swap
    monkeypatch.undo()
    assert sorted(os.listdir(path)) == ["_bands__compact", "bands"]
    assert spark.read.parquet(path).count() == before
    assert hits() == want and want
    assert dedup.compact_minhash_index(spark, path) == 3 * 8
    assert sorted(os.listdir(path)) == ["bands"]
    assert spark.read.parquet(path).count() == before - 3 * 8
    assert hits() == want


def _rewrite_index(spark, path: str, table: str, col: str, meta) -> None:
    """Simulate ANOTHER PROCESS rewriting the index's ``table`` with
    ``col`` recording ``meta`` as its build parameters (nothing when
    ``meta`` is None), keeping the table's rows and layout."""
    from radmapper_spark.operators.dedup import _BUILD_KEY
    src = f"{path}/{table}"
    df = spark.read.parquet(src)
    parts = ([c for c in ("_rm_batch_id", "band") if c in df.columns]
             if table != "centroids" else [])
    df = df.withMetadata(col, {} if meta is None else {_BUILD_KEY: meta})
    tmp = str(path) + "__rewrite"
    df.write.mode("overwrite").partitionBy(*parts).parquet(tmp)
    import shutil
    shutil.rmtree(src)
    os.rename(tmp, src)


def test_index_meta_cache_sees_external_rewrite(spark, tmp_path):
    """A long-lived session must NOT validate probes against stale
    parameters: after an external rebuild records new ones, the
    old-parameter probe must raise (nothing is cached; every probe
    reads the table's record)."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mhx")
    dedup.build_minhash_index(docs, path, num_hashes=32, bands=8)
    # probe once with the build-time parameters
    dedup.neardup_vs_index(docs.limit(2), path,
                           num_hashes=32, bands=8).collect()
    _rewrite_index(spark, path, "bands", "minhash",
                   {"kind": "minhash", "num_hashes": 64, "bands": 16,
                    "shingle_k": 5, "hash_mode": "xxhash64"})
    with pytest.raises(IndexParamMismatch):
        dedup.neardup_vs_index(docs.limit(2), path,
                               num_hashes=32, bands=8).collect()


def test_compact_corrupt_sidecar_missing_kind_raises(spark, tmp_path):
    """A record without a kind (or no record at all) is refused by the
    compactor before it rewrites anything."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mhk")
    dedup.build_minhash_index(docs, path)
    dedup.append_to_minhash_index(docs.limit(3), path)  # something to fold
    for meta, match in (({"num_hashes": 32, "bands": 8, "shingle_k": 5,
                          "hash_mode": "xxhash64"}, "kind"),
                        (None, "no build parameters")):
        _rewrite_index(spark, path, "bands", "minhash", meta)
        before = _tree(path)
        with pytest.raises(IndexParamMismatch, match=match):
            dedup.compact_minhash_index(spark, path)
        assert _tree(path) == before


def test_unstamped_index_raises_everywhere(spark, tmp_path):
    """A minhash index whose table records no build parameters (written
    before they were recorded, or by hand) is refused by the probe, the
    append, the admission loop and the compactor: it is never passed
    as matching."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
    from radmapper_spark.streaming import sinks
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mhu")
    dedup.build_minhash_index(docs, path)
    _rewrite_index(spark, path, "bands", "minhash", None)
    src = str(tmp_path / "src")
    docs.limit(0).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    for call in (
            lambda: dedup.neardup_vs_index(docs, path),
            lambda: dedup.append_to_minhash_index(docs, path),
            lambda: sinks.start_neardup_admission(
                stream, path, str(tmp_path / "out"), str(tmp_path / "ck")),
            lambda: dedup.compact_minhash_index(spark, path)):
        with pytest.raises(IndexParamMismatch, match="no build parameters"):
            call()
    assert not spark.streams.active


def test_index_meta_read_sees_rewrite_without_a_job(spark, tmp_path):
    """The probe reads the recorded parameters from the table scan it
    runs anyway: building a probe runs no more Spark jobs than reading
    the table, and after another process rewrites the record the next
    probe sees it."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.operators.dedup import IndexParamMismatch
    docs = _tiny_docs_r9(spark)
    path = str(tmp_path / "mhj")
    dedup.build_minhash_index(docs, path)
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    read = jobs("g_read", lambda: spark.read.parquet(f"{path}/bands"))
    probe = jobs("g_probe", lambda: dedup.neardup_vs_index(docs, path))
    assert probe == read, (probe, read)
    _rewrite_index(spark, path, "bands", "minhash",
                   {"kind": "minhash", "num_hashes": 32, "bands": 16,
                    "shingle_k": 5, "hash_mode": "xxhash64"})
    with pytest.raises(IndexParamMismatch, match="bands: base=16"):
        dedup.neardup_vs_index(docs, path)
