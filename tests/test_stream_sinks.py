"""Checkpointed file sink: exactly-once across restarts — an incremental
pipeline run on a schedule must process each record exactly once."""

from __future__ import annotations

from pyspark.sql import functions as F

from radmapper_spark.streaming.sinks import start_parquet_sink


def _write_chunk(spark, schema, rows, src, first):
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite" if first else "append").parquet(src)


def test_exactly_once_across_restarts(spark, tables, tmp_path):
    ev = tables["events"].select("event_id", "ts", "user_id", "value") \
        .orderBy("event_id").limit(300)
    rows = ev.collect()
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = start_parquet_sink(stream.withColumn(
            "v2", F.col("value") * 2), out, ckpt)
        q.awaitTermination(120)

    # run 1: two source files
    _write_chunk(spark, ev.schema, rows[:100], src, first=True)
    _write_chunk(spark, ev.schema, rows[100:200], src, first=False)
    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 200

    # run 2: no new data -> nothing reprocessed, nothing duplicated
    run_once()
    assert spark.read.parquet(out).count() == 200

    # run 3: one new file -> exactly the new rows appended
    _write_chunk(spark, ev.schema, rows[200:300], src, first=False)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 300
    assert got.select("event_id").distinct().count() == 300  # no dups
    # and the transformation applied
    bad = got.filter(F.col("v2") != F.col("value") * 2).count()
    assert bad == 0


def test_stream_cdc_apply_matches_batch_merge(spark, tables, tmp_path):
    """Streaming CDC apply (foreachBatch + merge_latest) must produce the
    same table as a one-shot batch merge of all the changes, and a rerun
    with no new changes must be a no-op (checkpointed)."""
    import datetime as dt

    from radmapper_spark.operators.cdc import merge_latest
    from radmapper_spark.streaming.sinks import start_cdc_apply

    def ts(s):
        return dt.datetime.fromisoformat(s)

    base_rows = [(1, ts("2024-01-01T00:00:00"), "a", 10.0),
                 (2, ts("2024-01-01T00:00:00"), "b", 20.0),
                 (3, ts("2024-01-01T00:00:00"), "c", 30.0)]
    chg_rows = [(1, ts("2024-01-02T00:00:00"), "a2", 11.0, False),
                (2, ts("2024-01-02T00:00:00"), "b", 20.0, True),
                (4, ts("2024-01-02T00:00:00"), "d", 40.0, False)]
    bschema = "k long, ts timestamp, status string, amount double"
    cschema = bschema + ", _deleted boolean"
    base_path = str(tmp_path / "base")
    chg_path = str(tmp_path / "chg")
    out = str(tmp_path / "merged")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(base_rows, bschema)
    base.write.parquet(base_path)
    changes = spark.createDataFrame(chg_rows, cschema)
    changes.coalesce(1).write.parquet(chg_path)

    def run_once():
        stream = spark.readStream.schema(changes.schema).parquet(chg_path)
        q = start_cdc_apply(stream, base_path, out, ckpt,
                            keys=["k"], ts_col="ts")
        q.awaitTermination(120)

    run_once()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, merge_latest(
        spark.read.parquet(base_path), changes,
        keys=["k"], ts_col="ts").collect()))
    assert got == want
    assert {r[0] for r in got} == {1, 3, 4}   # key 2 tombstoned
    # rerun with no new change files: checkpoint makes it a no-op
    run_once()
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == want


def test_streaming_neardup_probe_matches_batch(spark, tmp_path):
    """Stream 2 micro-batches of docs against a persisted index; the
    appended hits equal the batch probe over the full doc set."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import dedup
    from radmapper_spark.session import load_tables
    from radmapper_spark.streaming import sinks
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0) \
        .select("doc_id", "text").cache()
    idx = str(tmp_path / "idx")
    dedup.build_minhash_index(old, idx)
    src = str(tmp_path / "in")
    rows = new.collect()
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, new.schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "hits")
    q = sinks.start_neardup_probe(
        stream, idx, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {(r.new_id, r.index_id): r.est_jaccard
           for r in spark.read.parquet(out).collect()}
    want = {(r.new_id, r.index_id): r.est_jaccard
            for r in dedup.neardup_vs_index(new, idx).collect()}
    assert got == want
    new.unpersist()


def test_streaming_embedding_probe_matches_batch(spark, tmp_path):
    """Stream 2 micro-batches of vectors against a persisted embedding
    index; the appended hits equal the batch probe over the full set."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import dedup
    from radmapper_spark.session import load_tables
    from radmapper_spark.streaming import sinks
    emb = load_tables(spark, "/root/testdata/sf0.001")["embeddings"]
    old = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0) \
        .select("vec_id", "embedding").cache()
    idx = str(tmp_path / "slsh")
    dedup.build_embedding_index(old, idx)
    src = str(tmp_path / "in")
    rows = new.collect()
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        spark.createDataFrame(chunk, new.schema).coalesce(1) \
            .write.mode("append" if i else "overwrite").parquet(src)
    stream = (spark.readStream.schema(new.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "hits")
    q = sinks.start_embedding_probe(
        stream, idx, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {(r.new_id, r.index_id): round(r.cosine, 9)
           for r in spark.read.parquet(out).collect()}
    batch = dedup.neardup_embedding_vs_index(new, idx)
    want = {(r.new_id, r.index_id): round(r.cosine, 9)
            for r in batch.collect()}
    assert got == want
    assert len(got) > 0
    new.unpersist()


def test_streaming_neardup_admission_loop(spark, tmp_path):
    """Full admission loop (probe -> reject -> ADMIT survivors): a doc
    admitted in micro-batch 1 must be FOUND by micro-batch 2's probe;
    rejected docs (index dups, intra-batch larger-id dups) must never
    enter the index."""
    from pyspark.sql import functions as F
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import sinks

    def txt(tag):
        return " ".join(f"{tag}w{j}" for j in range(12))

    corpus = spark.createDataFrame(
        [(i, txt(f"t{i}")) for i in range(10)],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    dedup.build_minhash_index(corpus, idx)

    b1 = [(100, txt("t0")),    # dup of corpus doc 0 -> rejected
          (101, txt("u1")),    # new -> admitted
          (102, txt("v")),     # intra-batch pair: smaller id wins
          (103, txt("v"))]     # -> rejected
    b2 = [(200, txt("u1")),    # dup of ADMITTED 101 -> hit + rejected
          (201, txt("v")),     # dup of ADMITTED 102 (never 103)
          (202, txt("w"))]     # new -> admitted
    src = str(tmp_path / "in")
    schema = "doc_id long, text string"
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    out, ckpt = str(tmp_path / "hits"), str(tmp_path / "ck")
    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = sinks.start_neardup_admission(stream, idx, out, ckpt)
    q.awaitTermination(120)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q = sinks.start_neardup_admission(
        (spark.readStream.schema(corpus.schema)
         .option("maxFilesPerTrigger", 1).parquet(src)), idx, out, ckpt)
    q.awaitTermination(120)

    hits = {(r.new_id, r.index_id)
            for r in spark.read.parquet(out).collect()}
    assert (100, 0) in hits
    assert (200, 101) in hits, "batch-1 admit not visible to batch 2"
    assert (201, 102) in hits
    assert (103, 102) in hits, "intra-batch loser missing from audit trail"
    assert not any(i == 103 for _, i in hits), "rejected doc got probed hits"
    indexed = {r.id for r in spark.read.parquet(idx)
               .select("id").distinct().collect()}
    assert indexed == set(range(10)) | {101, 102, 202}


def test_streaming_embedding_admission_loop(spark, tmp_path):
    """Embedding twin of the admission-loop test: a vector admitted in
    micro-batch 1 must be found by micro-batch 2's probe; intra-batch
    duplicates resolve first-writer-wins; rejected vectors never enter
    the index."""
    import random
    from pyspark.sql import functions as F
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import sinks

    def vec(seed, dim=32):
        # deterministic, pairwise-dissimilar (random 32-dim: |cos| ~ 0.18
        # typical; a first cut used sin(seed*13.7+...) whose phases
        # collide mod 2*pi — seeds 0/50 were near-identical)
        return [random.Random(seed * 1000 + j).uniform(-1, 1)
                for j in range(dim)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(10)],
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "eidx")
    dedup.build_embedding_index(corpus, idx)

    b1 = [(100, vec(0)),   # dup of corpus 0 -> rejected
          (101, vec(50)),  # new -> admitted
          (102, vec(60)),  # intra-batch identical pair:
          (103, vec(60))]  # 102 wins, 103 rejected
    b2 = [(200, vec(50)),  # dup of ADMITTED 101
          (201, vec(60)),  # dup of ADMITTED 102 (never 103)
          (202, vec(70))]  # new -> admitted
    schema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "vin")
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    out, ckpt = str(tmp_path / "vhits"), str(tmp_path / "vck")

    def run():
        stream = (spark.readStream.schema(corpus.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.start_embedding_admission(
            stream, idx, out, ckpt, threshold=0.95)
        q.awaitTermination(120)

    run()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()

    hits = {(r.new_id, r.index_id)
            for r in spark.read.parquet(out).collect()}
    assert (100, 0) in hits
    assert (200, 101) in hits, "batch-1 admit not visible to batch 2"
    assert (201, 102) in hits
    assert (103, 102) in hits, "intra-batch loser missing from audit trail"
    assert not any(i == 103 for _, i in hits)
    indexed = {r.id for r in spark.read.parquet(f"{idx}/vectors")
               .select("id").distinct().collect()}
    assert indexed == set(range(10)) | {101, 102, 202}



# ======================== from test_round9.py (r14 consolidation) ========
import json
import math
import os
import random
import time
import pytest
from pyspark.sql import functions as F

def _plane_vec(angle, dim=32):
    """Unit vector at ``angle`` radians in the (e1, e2) plane — exact
    pairwise cosines: cos(a - b)."""
    v = [0.0] * dim
    v[0], v[1] = math.cos(angle), math.sin(angle)
    return v


def test_resolve_admission_clean_chain_keeps_representative(spark):
    """Chain A~B, B~C, not A~C: transitive clustering admits only A;
    B audits against A with the direct pair estimate, C audits against
    A (the ADMITTED representative — never the rejected B) with a NULL
    estimate since it only chains transitively."""
    from radmapper_spark.streaming.sinks import _resolve_admission
    batch = spark.createDataFrame(
        [(1,), (2,), (3,), (9,)], "doc_id long")
    hits = spark.createDataFrame(
        [], "new_id long, index_id long, est_jaccard double")
    intra = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8)],
        "id_a long, id_b long, est_jaccard double")
    audit, rejected = _resolve_admission(
        batch, "doc_id", hits, intra, "est_jaccard")
    got = {(r.new_id, r.index_id): r.est_jaccard for r in audit.collect()}
    assert got == {(2, 1): 0.9, (3, 1): None}
    assert {r.rid for r in rejected.collect()} == {2, 3}


def test_resolve_admission_tainted_cluster_rejected_wholesale(spark):
    """A cluster with an index-hit member is rejected wholesale; the
    loser that did NOT itself hit the index audits against the INDEX
    document the cluster chains to (which is in the index — the old
    pairwise rule recorded the rejected sibling as the 'winner')."""
    from radmapper_spark.streaming.sinks import _resolve_admission
    batch = spark.createDataFrame([(4,), (5,), (6,)], "doc_id long")
    hits = spark.createDataFrame(
        [(4, 100, 0.95)], "new_id long, index_id long, est_jaccard double")
    intra = spark.createDataFrame(
        [(4, 5, 0.9)], "id_a long, id_b long, est_jaccard double")
    audit, rejected = _resolve_admission(
        batch, "doc_id", hits, intra, "est_jaccard")
    got = {(r.new_id, r.index_id): r.est_jaccard for r in audit.collect()}
    assert got == {(5, 100): None}
    assert {r.rid for r in rejected.collect()} == {4, 5}


def _arrow_df(spark, rows, ddl):
    """An Arrow-built frame of ``rows`` (a LocalTableScan, no PythonRDD)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    schema = spark.createDataFrame([], ddl).schema
    table = pa.Table.from_pylist(
        [dict(zip(schema.fieldNames(), r)) for r in rows],
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def _admit_both_paths(spark, monkeypatch, batch, hits, intra, id_t="long"):
    """_resolve_admission on each side of the one gate: the default cap
    runs the driver union-find; a 1-byte rm.broadcastMaxBytes forces the
    large-star/small-star loop (any non-empty pair graph). Every id
    column is of type ``id_t``. Checks that neither returned frame scans
    a PythonRDD and that both caps give the same rows; returns (paths
    taken, (audit, rejected) sorted rows)."""
    from radmapper_spark.operators import graph
    from radmapper_spark.streaming.sinks import _resolve_admission
    from tests.test_plan_discipline import _python_rdd_scans

    paths = []
    cc = graph.connected_components

    def spy(*a, **k):
        out = cc(*a, **k)
        paths.append(out.rm_graph_path)
        return out

    monkeypatch.setattr(graph, "connected_components", spy)
    b = _arrow_df(spark, [(x,) for x in batch], f"doc_id {id_t}")
    h = _arrow_df(spark, hits,
                  f"new_id {id_t}, index_id {id_t}, est_jaccard double")
    i = _arrow_df(spark, intra,
                  f"id_a {id_t}, id_b {id_t}, est_jaccard double")
    got = []
    try:
        for cap in (None, "1"):
            if cap is not None:
                spark.conf.set("rm.broadcastMaxBytes", cap)
            audit, rejected = _resolve_admission(b, "doc_id", h, i,
                                                 "est_jaccard")
            assert _python_rdd_scans(audit) == []
            assert _python_rdd_scans(rejected) == []
            got.append((sorted((tuple(r) for r in audit.collect()),
                               key=lambda r: r[:2]),
                        sorted(r.rid for r in rejected.collect())))
    finally:
        spark.conf.unset("rm.broadcastMaxBytes")
    assert got[0] == got[1]
    return paths, got[0]


def test_resolve_admission_same_rows_on_both_gate_sides(spark, monkeypatch):
    """The clean-chain and tainted-cluster cases, plus a tainted cluster
    with two hit members (its target is the smallest index_id of the
    SMALLEST hit member, 150 — not the overall minimum 100): audit and
    rejected rows are identical on the driver and Spark-loop paths."""
    got = _admit_both_paths(
        spark, monkeypatch,
        batch=[1, 2, 3, 9, 4, 5, 6, 10, 11, 12, 13],
        hits=[(4, 100, 0.95), (12, 200, 0.9), (12, 150, 0.8),
              (13, 100, 0.7)],
        intra=[(1, 2, 0.9), (2, 3, 0.8), (4, 5, 0.9), (10, 11, 0.6),
               (11, 12, 0.6), (12, 13, 0.6)])
    want = ([(2, 1, 0.9), (3, 1, None), (5, 100, None), (10, 150, None),
             (11, 150, None)],
            [2, 3, 4, 5, 10, 11, 12, 13])
    assert got == (["driver", "partitioned"], want)


def test_resolve_admission_duplicated_pair_audits_once(spark, monkeypatch):
    """A pair repeated in the intra frame yields one audit row and one
    rejected id, on both paths."""
    got = _admit_both_paths(
        spark, monkeypatch, batch=[1, 2, 3], hits=[],
        intra=[(1, 2, 0.9), (1, 2, 0.9), (2, 3, 0.8), (2, 3, 0.8)])
    assert got == (["driver", "partitioned"],
                   ([(2, 1, 0.9), (3, 1, None)], [2, 3]))


def test_resolve_admission_string_ids(spark, monkeypatch):
    """String ids keep their type and compare in byte order on both
    paths: '010' and '10' are distinct documents ('010' is the smaller,
    so it is kept), and a tainted cluster's target is the byte-order
    smallest index_id of its hit member ('i10' < 'i9')."""
    got = _admit_both_paths(
        spark, monkeypatch, batch=["p1", "p2", "p10", "010", "10", "q"],
        hits=[("p2", "i9", 0.9), ("p2", "i10", 0.8)],
        intra=[("p1", "p2", 0.9), ("p10", "p2", 0.8), ("010", "10", 0.7)],
        id_t="string")
    assert got == (["driver", "partitioned"],
                   ([("10", "010", 0.7), ("p1", "i10", None),
                     ("p10", "i10", None)], ["10", "p1", "p10", "p2"]))


def test_resolve_admission_empty_intra(spark, monkeypatch):
    """No intra pairs: only the index hits are rejected, no audit row
    (an empty graph passes any cap, so both runs take the driver)."""
    got = _admit_both_paths(spark, monkeypatch, batch=[1, 2],
                            hits=[(2, 7, 0.9)], intra=[])
    assert got == (["driver", "driver"], ([], [2]))


def test_embedding_admission_chain_end_to_end(spark, tmp_path):
    """End-to-end chained intra-batch dups through the streaming loop:
    batch 1 carries A~B, B~C (not A~C) — only A admitted, C audited
    against A; batch 2 carries D (index dup of A) ~ E (similar to D but
    NOT to A) — both rejected, E audited against A (the index doc), and
    the index gains nothing from batch 2."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import sinks
    thr = 0.9
    # exact cosines in the (e1,e2) plane: A-B = cos(.3)=.955, B-C =
    # cos(.3)=.955, A-C = cos(.6)=.825 < thr. D at .37 rad from A
    # (cos=.932 -> index hit), E at .37+.32 rad: E-D cos(.32)=.949
    # (intra pair), E-A cos(.69)=.771 (no hit).
    corpus = spark.createDataFrame(
        [(0, _plane_vec(math.pi / 2))],  # unrelated seed doc
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "chidx")
    dedup.build_embedding_index(corpus, idx)
    b1 = [(1, _plane_vec(0.0)), (2, _plane_vec(0.3)),
          (3, _plane_vec(0.6))]
    b2 = [(4, _plane_vec(0.37)), (5, _plane_vec(0.69))]
    schema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "chin")
    out, ckpt = str(tmp_path / "chout"), str(tmp_path / "chck")
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)

    def run():
        stream = (spark.readStream.schema(corpus.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = sinks.start_embedding_admission(
            stream, idx, out, ckpt, threshold=thr)
        q.awaitTermination(120)

    run()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    run()
    audit = {(r.new_id, r.index_id): r.cosine
             for r in spark.read.parquet(out).collect()}
    assert (2, 1) in audit and audit[(2, 1)] == pytest.approx(
        math.cos(0.3), abs=1e-9)
    assert (3, 1) in audit and audit[(3, 1)] is None, \
        "chained loser must audit against the ADMITTED representative"
    assert (4, 1) in audit, "index dup missing from audit"
    assert (5, 1) in audit and audit[(5, 1)] is None, \
        "tainted-cluster loser must audit against the INDEX doc"
    assert not any(i in (2, 3, 4, 5) for _, i in audit), \
        "audit references a never-admitted sibling"
    indexed = {r.id for r in spark.read.parquet(f"{idx}/vectors")
               .select("id").distinct().collect()}
    assert indexed == {0, 1}


def test_admission_batches_leave_nothing_persisted(spark, tmp_path):
    """Three micro-batches through the minhash admission loop (each with
    an intra-batch near-dup pair, so the components resolve runs) leave
    no persisted RDD behind: the micro-batch scope releases the batch
    frame, the probe hits, the intra pairs and both checkpoints of
    _resolve_admission when the batch body ends."""
    from radmapper_spark.operators import dedup
    from radmapper_spark.streaming import sinks
    from tests.conftest import persisted_rdd_ids

    def txt(tag):
        return " ".join(f"{tag}w{j}" for j in range(12))

    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(i, txt(f"t{i}")) for i in range(10)],
                                   schema)
    idx = str(tmp_path / "idx")
    dedup.build_minhash_index(corpus, idx)
    src = str(tmp_path / "in")
    for b in range(3):
        rows = [(100 * b + 1, txt("t0")),          # index dup
                (100 * b + 2, txt(f"n{b}")),       # intra pair ...
                (100 * b + 3, txt(f"n{b}")),       # ... smaller id wins
                (100 * b + 4, txt(f"fresh{b}"))]   # new
        _write_chunk(spark, schema, rows, src, b == 0)
    before = persisted_rdd_ids(spark)
    q = sinks.start_neardup_admission(
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        idx, str(tmp_path / "hits"), str(tmp_path / "ck"))
    q.awaitTermination(180)
    assert len(q.recentProgress) >= 3
    assert persisted_rdd_ids(spark) - before == set()
    audit = {(r.new_id, r.index_id)
             for r in spark.read.parquet(str(tmp_path / "hits")).collect()}
    assert {(3, 2), (103, 102), (203, 202)} <= audit
