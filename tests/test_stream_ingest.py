"""Streaming end-to-end training ingest (streaming/ingest.py): the
composed loop — persisted-index exact dedup -> quality gate -> BPE
chunking -> sharded append — equals the batch twin entry across
multiple micro-batches, cross-batch rejections actually land, and the
checkpoint makes a drained re-run a no-op."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from radmapper_spark import entrypoints as ep
from radmapper_spark.operators import classifier, tokenizer
from radmapper_spark.streaming import ingest

SF = "/root/testdata/sf0.001"


def _order_files_by_min_id(spark, src):
    """Stamp file mtimes so the file source triggers batches in
    ascending doc_id order (the pattern test_round12 established)."""
    now = time.time()
    files = sorted(os.path.join(src, n) for n in os.listdir(src)
                   if n.endswith(".parquet"))
    keyed = []
    for p in files:
        lo = spark.read.parquet(p).agg(F.min("doc_id")).collect()[0][0]
        keyed.append((lo, p))
    for rank, (_, p) in enumerate(sorted(keyed)):
        os.utime(p, (now - 600 + rank * 60,) * 2)


def test_stream_ingest_differential_vs_batch_twin(spark, tmp_path):
    """Four id-ordered micro-batches of the sf0.001 corpus through the
    full ingest loop == the stream_training_ingest batch entry, row for
    row — and a second drained run under the same checkpoint appends
    nothing."""
    docs = ep.load_tables(spark, SF)["documents"]
    merges = ep._bpe_merges(spark, SF)
    vocab, consts = classifier.nb_model(
        docs.filter(F.expr(ep._NB_POS)), docs.filter(F.expr(ep._NB_NEG)))
    vocab = vocab.persist()
    try:
        params = classifier.nb_model_params(consts)
        src = str(tmp_path / "docs_in")
        n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
        for b in range(4):
            lo, hi = b * n // 4, (b + 1) * n // 4
            (docs.filter((F.col("doc_id") >= lo)
                         & (F.col("doc_id") < hi))
             .coalesce(1).write
             .mode("append" if b else "overwrite").parquet(src))
        _order_files_by_min_id(spark, src)

        index_path = str(tmp_path / "nh_idx")
        out_path = str(tmp_path / "shards_out")
        ckpt = str(tmp_path / "ckpt")
        ingest.build_normhash_index(docs.limit(0), index_path)
        stream = (spark.readStream.schema(docs.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = ingest.start_training_ingest(
            stream, index_path, out_path, ckpt, merges, vocab, params,
            chunk_tokens=ep._BPE_CHUNK, n_shards=ep._INGEST_SHARDS)
        try:
            assert q.awaitTermination(300), "stream did not finish"
            n_batches = len([p for p in q.recentProgress
                             if p["numInputRows"] > 0])
        finally:
            q.stop()
        assert n_batches >= 4, f"expected >= 4 micro-batches, {n_batches}"

        cols = ["doc_id", "chunk_seq", "chunk_start", "n_chunk_tokens",
                "shard", "chunk_text"]
        back = spark.read.parquet(out_path).select(
            *[F.col(c).cast("long").alias(c) if c == "shard"
              else F.col(c) for c in cols])
        got = sorted(map(tuple, back.collect()))
        want = sorted(map(tuple, ep.stream_training_ingest(spark, SF)
                          .select(*cols).collect()))
        assert got == want and len(got) > 0
        # the artifact actually spreads across shards
        assert back.select("shard").distinct().count() > 1

        # drained re-run under the SAME checkpoint: no new input files,
        # so nothing is appended — restart safety of the happy path
        stream2 = (spark.readStream.schema(docs.schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
        q2 = ingest.start_training_ingest(
            stream2, index_path, out_path, ckpt, merges, vocab, params,
            chunk_tokens=ep._BPE_CHUNK, n_shards=ep._INGEST_SHARDS)
        try:
            assert q2.awaitTermination(120), "re-run did not finish"
        finally:
            q2.stop()
        assert spark.read.parquet(out_path).count() == len(got)
    finally:
        vocab.unpersist()


def test_stream_ingest_cross_batch_dedup(spark, tmp_path):
    """The persisted index rejects a later batch's textual duplicate of
    an earlier batch's document, and within a batch the lowest id wins.
    Texts are built to saturate the quality gate (all admitted), so
    dedup is the only filter in play."""
    prose = "good clean prose about science and knowledge"
    rows = [
        # batch 0 (ids 0-9); 5 has NULL text (hashes to NULL)
        (0, f"{prose} alpha zero"), (1, f"{prose} beta one"),
        (5, None),
        # batch 1 (ids 10-19): 10 duplicates 0's text EXACTLY (extra
        # whitespace only — the dedup key normalizes it); 11 is fresh;
        # 12 duplicates 11 within the same batch (higher id loses);
        # 15's NULL text must be caught by the NULL-SAFE index probe
        # (r14 review: a plain equi anti-join re-admits NULL hashes
        # every batch)
        (10, f"  {prose}   alpha zero "), (11, f"{prose} gamma two"),
        (12, f"{prose} gamma two"), (15, None),
    ]
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(rows, schema)
    pos = docs  # train positive on the inputs themselves: quality -> 1
    neg = spark.createDataFrame(
        [(100 + i, "buy now spam offer cheap pills") for i in range(4)],
        schema)
    vocab, consts = classifier.nb_model(pos, neg)
    vocab = vocab.persist()
    try:
        params = classifier.nb_model_params(consts)
        merges = tokenizer.bpe_train(docs, n_merges=4, top_words=16)

        src = str(tmp_path / "in")
        spark.createDataFrame(rows[:3], schema).coalesce(1) \
            .write.mode("overwrite").parquet(src)
        spark.createDataFrame(rows[3:], schema).coalesce(1) \
            .write.mode("append").parquet(src)
        _order_files_by_min_id(spark, src)

        index_path = str(tmp_path / "idx")
        out_path = str(tmp_path / "out")
        ingest.build_normhash_index(docs.limit(0), index_path)
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = ingest.start_training_ingest(
            stream, index_path, out_path, str(tmp_path / "ck"),
            merges, vocab, params, chunk_tokens=8, n_shards=4)
        try:
            assert q.awaitTermination(180), "stream did not finish"
        finally:
            q.stop()

        kept_ids = {r["doc_id"] for r in
                    spark.read.parquet(out_path).collect()}
        # 10 rejected by the cross-batch index, 12 by the in-batch
        # window, the NULL-text docs by the (token-less) quality gate;
        # everything else survives
        assert kept_ids == {0, 1, 11}
        # the index holds one hash per DISTINCT normalized text — and
        # exactly ONE NULL hash row: batch 1's second NULL-text doc
        # must be caught by the NULL-SAFE probe, not re-appended
        idx = spark.read.parquet(index_path)
        assert idx.count() == 4 and idx.distinct().count() == 4
        assert idx.filter(F.col("norm_hash").isNull()).count() == 1

        # ---- kill-and-restart REPLAY (r14 verdict item #2): delete
        # the newest checkpoint commit marker so Structured Streaming
        # replays the final micro-batch on restart, then prove the
        # replayed batch appends NOTHING — shards and index are
        # byte-identical (the dynamic-partition-overwrite idempotence
        # the module docstring promises)
        def rows_of(df):  # NULL norm_hash: sort by stringified tuple
            return sorted((tuple(r) for r in df.collect()), key=str)

        shards_before = rows_of(spark.read.parquet(out_path))
        idx_before = rows_of(idx)
        commits = os.path.join(str(tmp_path / "ck"), "commits")
        newest = max((n for n in os.listdir(commits) if n.isdigit()),
                     key=int)
        os.remove(os.path.join(commits, newest))
        crc = os.path.join(commits, f".{newest}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        stream2 = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(src))
        q2 = ingest.start_training_ingest(
            stream2, index_path, out_path, str(tmp_path / "ck"),
            merges, vocab, params, chunk_tokens=8, n_shards=4)
        try:
            assert q2.awaitTermination(180), "replay run did not finish"
        finally:
            q2.stop()
        assert rows_of(spark.read.parquet(out_path)) == shards_before
        assert rows_of(spark.read.parquet(index_path)) == idx_before
    finally:
        vocab.unpersist()


def test_inlined_norm_sql_matches_helper():
    """Drift guard for the oracle bodies that inline the
    text-normalization SQL: every inlined copy in entrypoints.py must
    equal dedup.duck_normalize_text('text') VERBATIM. Those bodies keep
    their inlined copies, so this test is the propagation mechanism the
    r14 advice asked for — change normalize_text/duck_normalize_text
    and every stale copy fails here by name."""
    import inspect
    import re

    from radmapper_spark import entrypoints as ep
    from radmapper_spark.operators import dedup

    want = dedup.duck_normalize_text("text")
    src = inspect.getsource(ep)
    # any regexp_replace(trim(lower(text))...) call in the module
    # source must be exactly the helper's output
    inlined = set(re.findall(
        r"regexp_replace\(trim\(lower\(text\)\)[^)]*\)", src))
    assert inlined, "no inlined copies found — rewrite this guard"
    assert inlined == {want.replace("\\s", "\\\\s")} or inlined == {want}, (
        f"inlined normalization SQL drifted from duck_normalize_text: "
        f"{inlined} != {want}")
