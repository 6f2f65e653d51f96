"""The per-batch state protocol (streaming/state.py) under every loop
that uses it: the minhash and embedding index admission loops replay a
killed batch byte-identically, and every state table in a layout other
than the per-batch one is refused loudly by the shared guard, at loop
start, on probe, on append and on compaction."""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from radmapper_spark.operators import dedup
from radmapper_spark.streaming import compaction, crawl, ingest, sinks


def _drop_newest_commit(ckpt):
    """Simulate a crash after a batch's writes and before its commit."""
    commits = os.path.join(ckpt, "commits")
    newest = max((n for n in os.listdir(commits) if n.isdigit()),
                 key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _txt(tag):
    return " ".join(f"{tag}w{j}" for j in range(12))


def _vec(seed, dim=32):
    return [random.Random(seed * 1000 + j).uniform(-1, 1)
            for j in range(dim)]


def _kill_restart(spark, tmp_path, schema, corpus_rows, batches, build,
                  start, table):
    """Run ``batches`` through an admission loop (one micro-batch each),
    drop the newest commit and restart: returns (audit, index rows)
    before and after, each sorted with multiplicity."""
    idx, src = str(tmp_path / "idx"), str(tmp_path / "in")
    out, ckpt = str(tmp_path / "audit"), str(tmp_path / "ck")
    build(spark.createDataFrame(corpus_rows, schema), idx)

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = start(stream, idx, out, ckpt)
        try:
            assert q.awaitTermination(180), "stream did not finish"
        finally:
            q.stop()

    def snapshot():
        audit = sorted(map(tuple, spark.read.parquet(out)
                           .select("new_id", "index_id").collect()))
        rows = sorted(map(tuple, spark.read.parquet(f"{idx}/{table}")
                          .drop("_rm_batch_id").collect()))
        return audit, rows

    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)
        run()
    before = snapshot()
    _drop_newest_commit(ckpt)
    run()
    return before, snapshot()


def test_neardup_admission_kill_restart_byte_identical(spark, tmp_path):
    """A replayed minhash admission batch probes the index as the
    earlier batches left it: its own admits are not hits against
    themselves, the audit trail is not duplicated, and the index rows
    are unchanged."""
    b1 = [(100, _txt("t0")), (101, _txt("u1")), (102, _txt("v")),
          (103, _txt("v"))]
    b2 = [(200, _txt("u1")), (201, _txt("v")), (202, _txt("w")),
          (203, _txt("x")), (204, _txt("x"))]
    before, after = _kill_restart(
        spark, tmp_path, "doc_id long, text string",
        [(i, _txt(f"t{i}")) for i in range(10)], [b1, b2],
        dedup.build_minhash_index, sinks.start_neardup_admission, "bands")
    assert after == before
    audit, rows = after
    assert audit == [(100, 0), (103, 102), (200, 101), (201, 102),
                     (204, 203)]
    assert not [a for a in audit if a[0] == a[1]], "self-match audited"
    assert {r[1] for r in rows} == set(range(10)) | {101, 102, 202, 203}


def test_embedding_admission_kill_restart_byte_identical(spark, tmp_path):
    """Embedding twin of the minhash kill/restart test."""
    b1 = [(100, _vec(0)), (101, _vec(50)), (102, _vec(60)),
          (103, _vec(60))]
    b2 = [(200, _vec(50)), (201, _vec(60)), (202, _vec(70)),
          (203, _vec(80)), (204, _vec(80))]
    before, after = _kill_restart(
        spark, tmp_path, "vec_id long, embedding array<double>",
        [(i, _vec(i)) for i in range(10)], [b1, b2],
        dedup.build_embedding_index,
        lambda s, i, o, c: sinks.start_embedding_admission(
            s, i, o, c, threshold=0.95), "vectors")
    assert after == before
    audit, rows = after
    assert audit == [(100, 0), (103, 102), (200, 101), (201, 102),
                     (204, 203)]
    assert not [a for a in audit if a[0] == a[1]], "self-match audited"
    assert sorted(r[0] for r in rows) == \
        list(range(10)) + [101, 102, 202, 203]


# ----------------------------------------------- the shared layout guard

def _flat(spark, path, ddl):
    """A table with the state table's columns but no batch partitions."""
    spark.range(3).selectExpr(*ddl).write.mode("overwrite").parquet(path)


def _stream(spark, tmp_path, schema):
    src = str(tmp_path / "src")
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(src)
    return spark.readStream.schema(schema).parquet(src)


def _crawl_calls(spark, tmp_path, which):
    tables = {"url": str(tmp_path / "uidx"), "host": str(tmp_path / "hc")}
    pages = "doc_id long, url string, html string"
    crawl.build_url_index(spark.createDataFrame([], pages), tables["url"])
    crawl.build_host_counts(tables["host"], spark)
    if which == "url":
        _flat(spark, tables["url"], ["id AS url_hash"])
        compact = compaction.compact_url_index
    else:
        _flat(spark, tables["host"], ["'h' AS host", "id AS n"])
        compact = compaction.compact_host_counts
    return [
        lambda: crawl.start_crawl_ingest(
            _stream(spark, tmp_path, pages), tables["url"],
            tables["host"], str(tmp_path / "out"), str(tmp_path / "ck")),
        lambda: compact(spark, tables[which])]


def _ingest_calls(spark, tmp_path):
    idx = str(tmp_path / "nidx")
    _flat(spark, idx, ["id AS norm_hash"])
    return [
        lambda: ingest.start_training_ingest(
            _stream(spark, tmp_path, "doc_id long, text string"), idx,
            str(tmp_path / "out"), str(tmp_path / "ck"), None, None, None),
        lambda: compaction.compact_normhash_index(spark, idx)]


def _minhash_calls(spark, tmp_path, broken):
    idx = str(tmp_path / "mh")
    docs = spark.createDataFrame([(1, _txt("a")), (2, _txt("b"))],
                                 "doc_id long, text string")
    dedup.build_minhash_index(docs, idx)
    if broken == "flat":
        _flat(spark, f"{idx}/bands",
              ["0 AS band", "id AS bhash", "id", "array(id) AS minhash"])
    else:  # the layout before bands/: band partitions under the index
        seed = f"{idx}/bands/_rm_batch_id=-1"
        for d in os.listdir(seed):
            os.rename(f"{seed}/{d}", f"{idx}/{d}")
        shutil.rmtree(f"{idx}/bands")
    return [
        lambda: sinks.start_neardup_admission(
            _stream(spark, tmp_path, "doc_id long, text string"), idx,
            str(tmp_path / "out"), str(tmp_path / "ck")),
        lambda: dedup.neardup_vs_index(docs, idx),
        lambda: dedup.append_to_minhash_index(docs, idx),
        lambda: dedup.compact_minhash_index(spark, idx)]


def _embedding_calls(spark, tmp_path):
    idx = str(tmp_path / "emb")
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    dedup.build_embedding_index(emb, idx)
    _flat(spark, f"{idx}/vectors", ["id", "array(1.0D, 0.0D) AS v"])
    return [
        lambda: sinks.start_embedding_admission(
            _stream(spark, tmp_path, schema), idx, str(tmp_path / "out"),
            str(tmp_path / "ck")),
        lambda: dedup.neardup_embedding_vs_index(emb, idx),
        lambda: dedup.append_to_embedding_index(emb, idx),
        lambda: dedup.compact_embedding_index(spark, idx)]


@pytest.mark.parametrize("table", [
    "url_index", "host_counts", "normhash_index", "minhash_index",
    "minhash_index_pre_bands", "embedding_index"])
def test_state_table_outside_batch_layout_refused(spark, tmp_path, table):
    """Every state table read through the per-batch protocol refuses a
    table outside the layout (flat files, or the minhash index's
    ``band=`` partitions written straight under the index before its
    ``bands/`` table): rows without a batch partition would be dropped
    by the prior-view filter and their history re-admitted."""
    calls = {
        "url_index": lambda: _crawl_calls(spark, tmp_path, "url"),
        "host_counts": lambda: _crawl_calls(spark, tmp_path, "host"),
        "normhash_index": lambda: _ingest_calls(spark, tmp_path),
        "minhash_index": lambda: _minhash_calls(spark, tmp_path, "flat"),
        "minhash_index_pre_bands":
            lambda: _minhash_calls(spark, tmp_path, "pre_bands"),
        "embedding_index": lambda: _embedding_calls(spark, tmp_path),
    }[table]()
    for call in calls:
        with pytest.raises(ValueError, match="not the per-batch layout"):
            call()
    assert not spark.streams.active


def test_index_compaction_folds_batches_and_keeps_the_tail(spark,
                                                           tmp_path):
    """Index compaction is the state protocol's fold: the seed and the
    committed batch partitions below the newest fold into the seed
    (exact duplicates dropped), the newest batch partition is kept as
    it is, and a probe answers the same before and after."""
    from radmapper_spark.streaming import state
    idx = str(tmp_path / "emb")
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(
        [(i, _vec(i, dim=8)) for i in range(12)], schema)
    dedup.build_embedding_index(emb.filter(F.col("vec_id") < 4), idx)
    dedup.append_to_embedding_index(emb.filter(F.col("vec_id") < 2), idx)
    for b, lo in ((0, 4), (1, 8)):
        state.write_batch(dedup._vector_rows(
            emb.filter(F.col("vec_id").between(lo, lo + 3)),
            "embedding", "vec_id"), f"{idx}/vectors", b)

    def probe():
        return sorted((r.new_id, r.index_id) for r in
                      dedup.neardup_embedding_vs_index(
                          emb, idx, threshold=0.99).collect())

    hits = probe()  # the repeated admits hit twice
    assert len(hits) == 14 and len(set(hits)) == 12
    assert dedup.compact_embedding_index(spark, idx) == 2
    assert sorted(d for d in os.listdir(f"{idx}/vectors")
                  if d.startswith("_rm_batch_id=")) == \
        ["_rm_batch_id=-1", "_rm_batch_id=1"]
    assert probe() == sorted(set(hits))
