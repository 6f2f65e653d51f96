"""Deterministic shuffle, epochs, and materialized training shards (operators/sampling.py + sources/writers.py).

Consolidated from the per-round test files (r14 governance pass) — test bodies unchanged."""

from __future__ import annotations

import shutil
import pytest
from pyspark.sql import functions as F
import re
import __spark_entry__ as entrymod

# ======================== from test_round12.py ========
def test_corpus_shuffle_permutation_and_shards(spark):
    """corpus_shuffle assigns a 1..n bijection, exact shard sizes
    (every shard but the last holds exactly shard_size rows), is
    invariant to input partitioning, and its scope releases its
    internal cache."""
    from radmapper_spark.operators import sampling
    from radmapper_spark.session import scope
    from tests.conftest import persisted_rdd_ids

    df = spark.createDataFrame([(i,) for i in range(257)], "doc_id: long")
    before = persisted_rdd_ids(spark)
    with scope():
        out = sampling.corpus_shuffle(df, "doc_id", shard_size=100)
        rows = out.collect()
    assert persisted_rdd_ids(spark) - before == set()
    ranks = sorted(r["shuffle_rank"] for r in rows)
    assert ranks == list(range(1, 258))  # bijection
    from collections import Counter
    sizes = Counter(r["shard"] for r in rows)
    assert sizes == {0: 100, 1: 100, 2: 57}
    for r in rows:
        assert r["shard"] * 100 + r["shard_pos"] == r["shuffle_rank"] - 1
    # partitioning-invariant permutation (pure function of the ids)
    out2 = sampling.corpus_shuffle(df.repartition(7), "doc_id",
                                   shard_size=100)
    perm2 = {r["doc_id"]: r["shuffle_rank"] for r in out2.collect()}
    assert perm2 == {r["doc_id"]: r["shuffle_rank"] for r in rows}
    # it actually shuffles: the permutation is not the identity
    assert any(perm2[i] != i + 1 for i in range(257))
    with pytest.raises(ValueError, match="shard_size"):
        sampling.corpus_shuffle(df, "doc_id", shard_size=0)


def test_corpus_shuffle_no_single_partition_window(spark):
    """The rank must come from the distributed range-exchange recipe —
    no empty-partition-spec window (the classic scale killer) anywhere
    in the plan."""
    from radmapper_spark.operators import sampling

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = sampling.corpus_shuffle(df, "doc_id", shard_size=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # range partitioning present; every Window is partitioned (Spark
    # prints 'Window [...], [part spec]' — an empty spec would surface
    # as the WindowExec warning shape global_rank exists to avoid)
    assert "rangepartitioning" in plan.lower()
    import re
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert m.group(1).strip(), "empty-partition-spec window found"


def test_corpus_shuffle_sharded_write_roundtrip(spark, tmp_path):
    """The claimed write layout works end to end: shuffle -> partitioned
    parquet write by shard -> read back. Every shard directory holds
    exactly its rows, ranks survive the roundtrip, and reading ONE
    shard yields a contiguous rank range (the sequential-read
    property training ingestion relies on)."""
    import os

    from radmapper_spark.operators import sampling

    df = spark.range(230).withColumnRenamed("id", "doc_id")
    out = sampling.corpus_shuffle(df, "doc_id", shard_size=64)
    dest = str(tmp_path / "shards")
    out.write.partitionBy("shard").mode("overwrite").parquet(dest)
    back = spark.read.parquet(dest)
    assert back.count() == 230
    assert sorted(r["shuffle_rank"] for r in back.collect()) \
        == list(range(1, 231))
    shard_dirs = sorted(d for d in os.listdir(dest)
                        if d.startswith("shard="))
    assert shard_dirs == ["shard=0", "shard=1", "shard=2", "shard=3"]
    one = spark.read.parquet(f"{dest}/shard=1")
    ranks = sorted(r["shuffle_rank"] for r in one.collect())
    assert ranks == list(range(65, 129))  # contiguous range, full shard


# ======================== from test_round13.py (r14 consolidation) ========
SF = "/root/testdata/sf0.001"


def _epoch_ranks(spark, n, epoch, ids=None):
    from radmapper_spark.operators import sampling
    df = (spark.range(n).selectExpr("id * 7 AS doc_id") if ids is None
          else spark.createDataFrame([(i,) for i in ids], "doc_id long"))
    out = sampling.corpus_shuffle(df, "doc_id", shard_size=10, epoch=epoch)
    return {r["doc_id"]: r["shuffle_rank"] for r in out.collect()}


def test_epoch_shuffles_are_distinct_permutations(spark):
    """Each epoch must be a COMPLETE permutation (ranks exactly 1..N of
    the same id set) and pairwise DISTINCT from the others — the whole
    point of reshuffling per epoch."""
    perms = {e: _epoch_ranks(spark, 200, e) for e in (0, 1, 2, 3)}
    ids = set(perms[0])
    for e, p in perms.items():
        assert set(p) == ids, f"epoch {e} changed the id set"
        assert sorted(p.values()) == list(range(1, 201)), \
            f"epoch {e} is not a complete 1..N permutation"
    es = sorted(perms)
    for i, a in enumerate(es):
        for b in es[i + 1:]:
            assert perms[a] != perms[b], f"epochs {a} and {b} collide"


def test_epoch_none_matches_pre_epoch_layout(spark):
    """epoch=None must stay byte-compatible with the un-epoched salt
    (the committed corpus_shuffle oracle depends on it)."""
    from radmapper_spark.operators import sampling
    df = spark.range(50).selectExpr("id AS doc_id")
    a = sampling.corpus_shuffle(df, "doc_id", 10)
    b = sampling.corpus_shuffle(df, "doc_id", 10, epoch=None)
    ra = {r["doc_id"]: r["shuffle_rank"] for r in a.collect()}
    rb = {r["doc_id"]: r["shuffle_rank"] for r in b.collect()}
    assert ra == rb


def test_epoch_shuffle_append_stable(spark):
    """Within one epoch the order is append-stable: adding new ids must
    not reorder existing ones (their permutation keys depend only on
    the id), so a growing corpus keeps already-written shards' relative
    order."""
    base = [i * 3 for i in range(80)]
    grown = base + [1000 + i for i in range(40)]
    small = _epoch_ranks(spark, 0, epoch=2, ids=base)
    big = _epoch_ranks(spark, 0, epoch=2, ids=grown)
    order_small = sorted(base, key=lambda i: small[i])
    order_big = [i for i in sorted(grown, key=lambda i: big[i])
                 if i in set(base)]
    assert order_small == order_big


def test_epoch_rejects_negative(spark):
    from radmapper_spark.operators import sampling
    df = spark.range(5).selectExpr("id AS doc_id")
    with pytest.raises(ValueError):
        sampling.corpus_shuffle(df, "doc_id", 10, epoch=-1)


def test_training_shards_layout_and_roundtrip(spark):
    """The materialized artifact must honor every layout invariant a
    sequential-reading trainer depends on: exact shard sizes,
    contiguous rank ranges per shard, ONE file per shard directory,
    rows physically ordered by shard_pos inside each file — and the
    read-back values must equal an independent recomputation of the
    composition (write->read is lossless)."""
    import glob
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    import radmapper_spark.entrypoints as ep

    df = entrymod.queries()["materialize_training_shards"](spark, SF)
    p = df.toPandas()
    n, size = len(p), ep._TRAIN_SHARD
    assert n > 0
    # complete permutation + shard arithmetic
    assert sorted(p["shuffle_rank"]) == list(range(1, n + 1))
    assert ((p["shuffle_rank"] - 1) // size == p["shard"]).all()
    assert ((p["shuffle_rank"] - 1) % size == p["shard_pos"]).all()
    sizes = p.groupby("shard").size()
    assert (sizes.drop(sizes.index.max()) == size).all(), \
        "a non-final shard is not exactly shard_size rows"
    # read-back equals recompute (the files hold the exact values)
    q = ep._training_chunks(spark, SF).select(*ep._TRAIN_COLS).toPandas()
    key = ["shuffle_rank"]
    pd.testing.assert_frame_equal(
        p.sort_values(key).reset_index(drop=True)[list(ep._TRAIN_COLS)],
        q.sort_values(key).reset_index(drop=True)[list(ep._TRAIN_COLS)],
        check_dtype=False)
    # on-disk layout: one parquet file per shard dir, physical
    # shard_pos order 0..k-1 inside each file
    from radmapper_spark.session import _MEMO
    path = next(v for _fp, v, _rel in _MEMO["index:train_shards"].values())
    shard_dirs = sorted(glob.glob(os.path.join(path, "shard=*")))
    assert len(shard_dirs) == p["shard"].nunique()
    for d in shard_dirs:
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, f"{d}: {len(parts)} files (want 1)"
    for d in (shard_dirs[0], shard_dirs[len(shard_dirs) // 2],
              shard_dirs[-1]):
        f = [os.path.join(d, x) for x in os.listdir(d)
             if x.endswith(".parquet")][0]
        pos = pq.read_table(f, columns=["shard_pos"])["shard_pos"] \
            .to_pylist()
        assert pos == list(range(len(pos))), \
            f"{f}: rows not physically ordered by shard_pos"


def test_epoch_salt_encoding_is_injective(spark):
    """A bare salt that already carries the epoch suffix must be
    rejected: salt='run:e2'+epoch=None would otherwise collide with
    salt='run'+epoch=2 (r13 review)."""
    from radmapper_spark.operators import sampling
    df = spark.range(5).selectExpr("id AS doc_id")
    with pytest.raises(ValueError, match="epoch suffix"):
        sampling.corpus_shuffle(df, "doc_id", 10, salt="run:e2")
    with pytest.raises(ValueError, match="epoch suffix"):
        sampling.duck_corpus_shuffle_sql("doc_id", 10, salt="run:e2")
