"""Streaming crawl admission (streaming/crawl.py): the composed loop —
persisted-URL-index dedup -> cross-batch host cap -> extraction ->
C4 floor -> Gopher gate — equals the batch twin entry across multiple
micro-batches, cross-batch URL rejections and host budgets actually
land, and a kill-and-restart replay is byte-identical."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from radmapper_spark import entrypoints as ep
from radmapper_spark.operators import web
from radmapper_spark.streaming import crawl

SF = "/root/testdata/sf0.001"


def _order_files_by_min_id(spark, src):
    now = time.time()
    files = sorted(os.path.join(src, n) for n in os.listdir(src)
                   if n.endswith(".parquet"))
    keyed = []
    for p in files:
        lo = spark.read.parquet(p).agg(F.min("doc_id")).collect()[0][0]
        keyed.append((lo, p))
    for rank, (_, p) in enumerate(sorted(keyed)):
        os.utime(p, (now - 600 + rank * 60,) * 2)


def _rows_of(spark, path, cols):
    return sorted(tuple(str(x) for x in r) for r in
                  spark.read.parquet(path).select(*cols).collect())


def test_stream_crawl_differential_vs_batch_twin(spark, tmp_path):
    """Four id-ordered micro-batches of synthesized fetched pages
    through the full admission loop == the stream_crawl_ingest batch
    entry, row for row — the host budget and the canonical-URL dedup
    must both hold ACROSS batch boundaries (the synth_url fixture's
    3-variant resources and 7 hosts straddle every batch split)."""
    docs = ep.load_tables(spark, SF)["documents"]
    pages = docs.select(
        "doc_id",
        web.synth_url(F.col("doc_id")).alias("url"),
        web.synth_html(F.col("doc_id"), F.col("text"),
                       F.col("source")).alias("html"))
    src = str(tmp_path / "pages_in")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    for b in range(4):
        lo, hi = b * n // 4, (b + 1) * n // 4
        (pages.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write
         .mode("append" if b else "overwrite").parquet(src))
    _order_files_by_min_id(spark, src)

    url_idx = str(tmp_path / "url_idx")
    host_cnt = str(tmp_path / "host_cnt")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    crawl.build_url_index(pages.limit(0), url_idx)
    crawl.build_host_counts(host_cnt, spark)
    stream = (spark.readStream.schema(pages.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = crawl.start_crawl_ingest(
        stream, url_idx, host_cnt, out_path, ckpt,
        host_cap=ep._STREAM_CRAWL_CAP, min_tokens=60)
    try:
        assert q.awaitTermination(300), "stream did not finish"
        n_batches = len([p for p in q.recentProgress
                         if p["numInputRows"] > 0])
    finally:
        q.stop()
    assert n_batches >= 4, f"expected >= 4 micro-batches, {n_batches}"

    cols = ["doc_id", "canonical_url", "host", "n_lines_kept",
            "n_extracted_tokens", "extracted_text"]
    got = _rows_of(spark, out_path, cols)
    want = sorted(tuple(str(x) for x in r) for r in
                  ep.stream_crawl_ingest(spark, SF)
                  .select(*cols).collect())
    assert got == want and len(got) > 0
    # the url index holds one hash per DISTINCT canonical url (every
    # fetched resource claims its slot even when the cap or the gate
    # rejects the page), spread across batch partitions
    idx = spark.read.parquet(url_idx)
    n_canon = (web.canonicalize_urls(pages)
               .filter(F.col("canonical_url").isNotNull())
               .select("canonical_url").distinct().count())
    assert idx.count() == n_canon
    assert idx.select("url_hash").distinct().count() == n_canon
    # host budgets were actually consumed across batches: total
    # admitted per host == min(cap, distinct resources on that host)
    cnt = (spark.read.parquet(host_cnt).groupBy("host")
           .agg(F.sum("n").alias("n")).collect())
    assert cnt and all(r["n"] <= ep._STREAM_CRAWL_CAP for r in cnt)

    # ---- kill-and-restart REPLAY: drop the newest commit marker so
    # the final micro-batch replays; output AND both state tables must
    # be byte-identical (dynamic-partition-overwrite idempotence with
    # self-partition-excluded state reads)
    out_before = _rows_of(spark, out_path,
                          cols + ["_rm_batch_id"])
    idx_before = _rows_of(spark, url_idx,
                          ["url_hash", "_rm_batch_id"])
    cnt_before = _rows_of(spark, host_cnt,
                          ["host", "n", "_rm_batch_id"])
    commits = os.path.join(ckpt, "commits")
    newest = max((x for x in os.listdir(commits) if x.isdigit()),
                 key=int)
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    stream2 = (spark.readStream.schema(pages.schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    q2 = crawl.start_crawl_ingest(
        stream2, url_idx, host_cnt, out_path, ckpt,
        host_cap=ep._STREAM_CRAWL_CAP, min_tokens=60)
    try:
        assert q2.awaitTermination(180), "replay run did not finish"
    finally:
        q2.stop()
    assert _rows_of(spark, out_path, cols + ["_rm_batch_id"]) \
        == out_before
    assert _rows_of(spark, url_idx,
                    ["url_hash", "_rm_batch_id"]) == idx_before
    assert _rows_of(spark, host_cnt,
                    ["host", "n", "_rm_batch_id"]) == cnt_before


def test_stream_crawl_cross_batch_url_and_host_budget(spark, tmp_path):
    """Hand-built two-batch case: a later batch's noisy variant of an
    earlier batch's resource is rejected by the persisted URL index,
    and a host whose budget was partially consumed in batch 0 only
    admits the REMAINDER in batch 1 (arrival order)."""
    # varied words (a repeated trigram would fail the r16 repetition
    # rules in the gate)
    body = " ".join(f"science{i} data{i} knowledge{i}"
                    for i in range(25))  # > 50 words so
    # the Gopher word floor passes and dedup/cap are the only filters
    html = ("<p>" + body + " It must be of the data and that will "
            "have merge with scan.</p>")
    rows0 = [(0, "https://h0.com/a?x=1", html),
             (1, "https://h0.com/b", html),
             (2, "https://h1.com/a", html)]
    rows1 = [
        # 10: variant of doc 0's resource (case + fragment + utm) —
        # canonicalizes identically, must be rejected by the INDEX
        (10, "HTTPS://H0.com/a?utm_source=z&x=1#frag", html),
        # 11: fresh resource on h0 — h0's budget (cap=3) has 2 consumed
        # in batch 0, so exactly ONE of 11/12 is admitted (doc order)
        (11, "https://h0.com/c", html),
        (12, "https://h0.com/d", html),
        # 13: fresh on h1 (1 consumed, fits)
        (13, "https://h1.com/b", html),
    ]
    schema = "doc_id long, url string, html string"
    src = str(tmp_path / "in")
    spark.createDataFrame(rows0, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    _order_files_by_min_id(spark, src)

    url_idx = str(tmp_path / "uidx")
    host_cnt = str(tmp_path / "hcnt")
    crawl.build_url_index(
        spark.createDataFrame([], schema), url_idx)
    crawl.build_host_counts(host_cnt, spark)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = crawl.start_crawl_ingest(
        stream, url_idx, host_cnt, str(tmp_path / "out"),
        str(tmp_path / "ck"), host_cap=3, min_tokens=5)
    try:
        assert q.awaitTermination(180), "stream did not finish"
    finally:
        q.stop()
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out")).collect()}
    # 10 rejected by the URL index; 12 by the exhausted h0 budget
    # (0, 1 in batch 0 + 11 in batch 1 = cap 3); everything else in
    assert kept == {0, 1, 2, 11, 13}


def test_composed_crawl_to_shards_chain(spark, tmp_path):
    """THE composed streaming pipeline (r15 verdict item #2): the crawl
    loop's output directory is the file-stream SOURCE of the text-ingest
    loop, raw pages -> training shards fully incrementally — and the
    chain equals the stream_crawl_to_shards batch twin row for row at
    sf0.001. (At this SF the NB gate happens to admit none of the
    arrival-order head's low-id survivors, so the END of the chain is
    empty — the nonzero-flow proof lives in
    test_composed_chain_nonzero_with_kill_restart below; THIS test
    proves the chain produces no spurious rows and that the crawl
    stage feeding the ingest loop is the entry's exact head.)"""
    from radmapper_spark.operators import classifier
    from radmapper_spark.streaming import ingest

    docs = ep.load_tables(spark, SF)["documents"]
    pages = docs.select(
        "doc_id",
        web.synth_url(F.col("doc_id")).alias("url"),
        web.synth_html(F.col("doc_id"), F.col("text"),
                       F.col("source")).alias("html"))
    src = str(tmp_path / "pages_in")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    for b in range(4):
        lo, hi = b * n // 4, (b + 1) * n // 4
        (pages.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write
         .mode("append" if b else "overwrite").parquet(src))
    _order_files_by_min_id(spark, src)

    crawl_out = str(tmp_path / "crawl_out")
    crawl.build_url_index(pages.limit(0), str(tmp_path / "uidx"))
    crawl.build_host_counts(str(tmp_path / "hcnt"), spark)
    q = crawl.start_crawl_ingest(
        (spark.readStream.schema(pages.schema)
         .option("maxFilesPerTrigger", 1).parquet(src)),
        str(tmp_path / "uidx"), str(tmp_path / "hcnt"), crawl_out,
        str(tmp_path / "ck1"), host_cap=ep._STREAM_CRAWL_CAP,
        min_tokens=60)
    try:
        assert q.awaitTermination(300), "crawl stage did not finish"
    finally:
        q.stop()

    # ---- stage 2: the crawl output dir IS the ingest loop's source
    merges = ep._bpe_merges(spark, SF)
    vocab, consts = classifier.nb_model(
        docs.filter(F.expr(ep._NB_POS)), docs.filter(F.expr(ep._NB_NEG)))
    vocab = vocab.persist()
    try:
        params = {k: int(v) for k, v in
                  ep._nb_quality_params(spark, SF, consts).items()}
        crawl_schema = ("doc_id long, canonical_url string, host string, "
                        "n_lines_kept long, n_extracted_tokens long, "
                        "extracted_text string, _rm_batch_id long")
        chained = (spark.readStream.schema(crawl_schema)
                   .option("maxFilesPerTrigger", 1).parquet(crawl_out)
                   .select("doc_id",
                           F.col("extracted_text").alias("text")))
        idx = str(tmp_path / "nh_idx")
        shards_out = str(tmp_path / "shards")
        ingest.build_normhash_index(docs.limit(0), idx)
        q2 = ingest.start_training_ingest(
            chained, idx, shards_out, str(tmp_path / "ck2"),
            merges, vocab, params, chunk_tokens=ep._BPE_CHUNK,
            n_shards=ep._INGEST_SHARDS)
        try:
            assert q2.awaitTermination(300), "ingest stage did not finish"
        finally:
            q2.stop()

        cols = ["doc_id", "chunk_seq", "chunk_start", "n_chunk_tokens",
                "shard", "chunk_text"]
        got = sorted(map(tuple, spark.read.schema(
            "doc_id long, chunk_seq long, chunk_start long, "
            "n_chunk_tokens long, _rm_batch_id long, shard long, "
            "chunk_text string").parquet(shards_out)
            .select(*cols).collect()))
        twin = ep.stream_crawl_to_shards(spark, SF)
        want = sorted(map(tuple, twin.select(*cols).collect()))
        assert got == want
        # the CRAWL stage itself flowed nonzero rows into the chain
        assert spark.read.parquet(crawl_out).count() > 0
    finally:
        vocab.unpersist()


def test_composed_chain_nonzero_with_kill_restart(spark, tmp_path):
    """Composed chain on a hand-built corpus where rows SURVIVE to the
    shards (the sf0.001 fixture's arrival-order head admits none — see
    above), with the DOWNSTREAM loop killed before its final commit and
    restarted ACROSS the chain boundary: the replay must append
    nothing new (byte-identical shards). The batch comparator is built
    from the same library operators the entry tail uses."""
    from radmapper_spark.operators import classifier, tokenizer
    from radmapper_spark.streaming import ingest
    from pyspark.sql import Window

    base = ("It must be of the data and that will have merge with "
            "scan here today for good measure always.")
    body = " ".join(f"science{i} data{i} knowledge{i}" for i in range(25))

    def page_html(i):
        return f"<p>{body} doc{i} {base}</p>"

    # 3 hosts x 4 resources, one duplicate URL variant, one dup text
    rows = []
    for i in range(12):
        rows.append((i, f"https://h{i % 3}.com/r{i}", page_html(i)))
    rows.append((20, "HTTPS://H0.com/r0?utm_source=x", page_html(0)))  # dup URL
    rows.append((21, "https://h1.com/extra", page_html(1)))            # dup text
    schema = "doc_id long, url string, html string"
    src = str(tmp_path / "in")
    for i in range(3):
        (spark.createDataFrame(rows[5 * i:5 * (i + 1)], schema)
         .coalesce(1).write
         .mode("append" if i else "overwrite").parquet(src))
    _order_files_by_min_id(spark, src)

    crawl_out = str(tmp_path / "crawl_out")
    uidx, hcnt = str(tmp_path / "uidx"), str(tmp_path / "hcnt")
    crawl.build_url_index(spark.createDataFrame([], schema), uidx)
    crawl.build_host_counts(hcnt, spark)
    q = crawl.start_crawl_ingest(
        (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(src)),
        uidx, hcnt, crawl_out, str(tmp_path / "ck1"),
        host_cap=3, min_tokens=5)
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()

    docs = spark.createDataFrame(
        [(i, f"{body} doc{i} {base}") for i in range(12)],
        "doc_id long, text string")
    vocab, consts = classifier.nb_model(
        docs, spark.createDataFrame(
            [(100, "buy now spam offer cheap pills")],
            "doc_id long, text string"))
    vocab = vocab.persist()
    try:
        params = classifier.nb_model_params(consts)
        merges = tokenizer.bpe_train(docs, n_merges=4, top_words=16)
        crawl_schema = ("doc_id long, canonical_url string, host string, "
                        "n_lines_kept long, n_extracted_tokens long, "
                        "extracted_text string, _rm_batch_id long")
        idx, shards_out = str(tmp_path / "idx"), str(tmp_path / "sh")
        ingest.build_normhash_index(docs.limit(0), idx)

        def run_ingest():
            q2 = ingest.start_training_ingest(
                (spark.readStream.schema(crawl_schema)
                 .option("maxFilesPerTrigger", 1).parquet(crawl_out)
                 .select("doc_id",
                         F.col("extracted_text").alias("text"))),
                idx, shards_out, str(tmp_path / "ck2"),
                merges, vocab, params, chunk_tokens=8, n_shards=4)
            try:
                assert q2.awaitTermination(180)
            finally:
                q2.stop()

        run_ingest()
        got = sorted(map(tuple,
                         spark.read.parquet(shards_out).collect()))
        assert len(got) > 0, "chain must flow rows end to end here"

        # batch comparator from the same operators: arrival-order head
        # (url-hash dedup window + host window + extraction gate), then
        # the ingest tail (norm-hash dedup, NB admit, BPE, hash shards)
        pages = spark.createDataFrame(rows, schema)
        canon = (web.canonicalize_urls(pages)
                 .filter(F.col("canonical_url").isNotNull()))
        wurl = Window.partitionBy(
            crawl.url_hash(F.col("canonical_url"))).orderBy("doc_id")
        first = (canon.withColumn("_rn", F.row_number().over(wurl))
                 .filter(F.col("_rn") == 1).drop("_rn"))
        whost = Window.partitionBy("host").orderBy("doc_id")
        capped = (first.withColumn("_hr", F.row_number().over(whost))
                  .filter(F.col("_hr") <= 3))
        gated = web.extract_floor_gate(capped, min_tokens=5)
        texts = gated.select("doc_id",
                             F.col("extracted_text").alias("text"))
        ded = ingest.first_per_normhash(texts)
        kept_ids = classifier.quality_admit(
            ded, vocab, params).select("doc_id")
        kept = ded.join(kept_ids, "doc_id", "semi")
        chunks = tokenizer.bpe_chunk_documents(kept, merges,
                                               chunk_tokens=8)
        want_df = chunks.select(
            "doc_id", "chunk_seq", "chunk_start", "n_chunk_tokens",
            ingest.shard_col(ingest.chunk_id_col(), 4).alias("shard"),
            "chunk_text")
        want = sorted(map(tuple, want_df.collect()))
        got_cols = sorted(map(tuple, spark.read.schema(
            "doc_id long, chunk_seq long, chunk_start long, "
            "n_chunk_tokens long, _rm_batch_id long, shard long, "
            "chunk_text string").parquet(shards_out)
            .select("doc_id", "chunk_seq", "chunk_start",
                    "n_chunk_tokens", "shard", "chunk_text").collect()))
        assert got_cols == want

        # ---- kill the DOWNSTREAM loop's newest commit and restart the
        # chain's second stage: byte-identical shards + index
        before_sh = sorted(map(tuple,
                               spark.read.parquet(shards_out).collect()))
        before_idx = sorted(
            (tuple(r) for r in spark.read.parquet(idx).collect()),
            key=str)
        commits = os.path.join(str(tmp_path / "ck2"), "commits")
        newest = max((x for x in os.listdir(commits) if x.isdigit()),
                     key=int)
        os.remove(os.path.join(commits, newest))
        crc = os.path.join(commits, f".{newest}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run_ingest()
        assert sorted(map(tuple, spark.read.parquet(shards_out)
                          .collect())) == before_sh
        assert sorted((tuple(r) for r in
                       spark.read.parquet(idx).collect()),
                      key=str) == before_idx
    finally:
        vocab.unpersist()
