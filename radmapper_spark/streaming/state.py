"""The per-batch state protocol shared by every streaming loop: the
crawl and text-ingest loops (streaming/crawl.py, streaming/ingest.py),
the minhash and embedding index admission loops and the index probe
sinks (streaming/sinks.py). The reference has no streaming tier; this
is the repo's own replay contract.

Every table such a loop reads or writes is parquet partitioned by
``_rm_batch_id`` (BATCH_COL), with the loop's other partition columns
below it:

* the SEED partition ``_rm_batch_id = -1`` holds what exists before
  the stream (the build_* helpers, write_seed) and what is admitted
  out of stream (appended to the seed); a StreamingQuery batch id is
  never negative;
* a micro-batch reads its PRIOR view, the table without its own
  partition (read_prior), and writes its rows as its own partition by
  dynamic partition overwrite (write_batch).

foreachBatch is at-least-once: a crash after a write and before the
checkpoint commit replays the batch. The replay sees exactly the view
the crashed attempt saw and rewrites exactly its own partitions, so
kill and restart is byte-identical (test-proven for every loop).

Micro-batches commit in order, so only the maximum partition present
can be a crashed half-write. compact_batch_partitions folds every
partition below it, and the seed, into the seed through the table's
own probe reduction (distinct membership, pre-summed counts), behind a
crash-safe rename-aside swap. That bounds the file listing a probe
pays over a stream's lifetime (a table compacted every K batches
holds at most K + 2 partitions) without changing a probe answer.

A table without the layout (flat files, or none) would read as NULL
batch ids that the prior-view filter silently drops, so the loop would
re-admit its whole history; check_layout refuses it from a Hadoop FS
listing, with no Spark job.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import scope

BATCH_COL = "_rm_batch_id"
#: the seed (pre-existing and out-of-stream) rows' batch id
SEED_BATCH_ID = -1


def check_layout(spark: SparkSession, path: str, what: str) -> None:
    """Raise ValueError unless ``path`` is a directory whose visible
    entries are all ``_rm_batch_id=<int>`` partitions (entries Spark
    hides, ``_SUCCESS`` and dot files, are skipped the same way)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    bad = None
    if not fs.exists(p):
        bad = "is missing"
    else:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith(".") or (name.startswith("_")
                                        and "=" not in name):
                continue
            key, _, val = name.partition("=")
            if not (st.isDirectory() and key == BATCH_COL
                    and val.lstrip("-").isdigit()):
                bad = f"holds {name!r} outside a {BATCH_COL} partition"
                break
    if bad:
        raise ValueError(
            f"{what} at {path} {bad}: not the per-batch layout (flat "
            f"layout, or written before it). The streaming probes "
            f"would silently drop rows without a {BATCH_COL} partition "
            f"and re-admit their history. Rebuild it with its build "
            f"helper, which writes the partitioned layout.")


def _writer(df: DataFrame, batch_id: int):
    return df.withColumn(BATCH_COL, F.lit(int(batch_id)).cast("long")).write


def write_seed(df: DataFrame, path: str, *partition_by: str,
               mode: str = "overwrite") -> None:
    """Write ``df`` as the seed partition of the table at ``path``:
    ``mode="overwrite"`` replaces the whole table (a build),
    ``"append"`` adds to the seed (an out-of-stream admit)."""
    (_writer(df, SEED_BATCH_ID).mode(mode)
     .partitionBy(BATCH_COL, *partition_by).parquet(path))


def write_batch(df: DataFrame, path: str, batch_id: int,
                *partition_by: str) -> None:
    """Write ``df`` as micro-batch ``batch_id``'s own partitions of the
    table at ``path``, replacing what an earlier attempt of the same
    batch wrote there and nothing else."""
    (_writer(df, batch_id).mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(BATCH_COL, *partition_by).parquet(path))


def _read(spark: SparkSession, path: str,
          schema: Optional[str]) -> DataFrame:
    return (spark.read if schema is None
            else spark.read.schema(schema)).parquet(path)


def read_prior(spark: SparkSession, path: str, batch_id: int,
               schema: Optional[str] = None) -> DataFrame:
    """The table at ``path`` without batch ``batch_id``'s partition:
    the state every earlier batch left, the same on every attempt of
    this one. Pass the ``schema`` (batch column included) when the
    table can be empty: inference needs a data file."""
    return _read(spark, path, schema).filter(
        F.col(BATCH_COL) != int(batch_id))


def start(writer, checkpoint: str, available_now: bool = True):
    """Start a DataStreamWriter against ``checkpoint``; with
    ``available_now`` it drains what the source holds and stops (the
    scheduled-incremental shape), and a restart resumes from the
    checkpoint."""
    w = writer.option("checkpointLocation", checkpoint)
    return (w.trigger(availableNow=True) if available_now else w).start()


def start_batches(stream: DataFrame, fn, checkpoint: str):
    """Drain ``stream`` through ``fn(batch_df, batch_id)``, each call in
    a scope of its own: whatever the batch persists is released when
    its body ends."""
    def batch(batch_df, batch_id):
        with scope():
            fn(batch_df, batch_id)

    return start(stream.writeStream.foreachBatch(batch), checkpoint)


def _staged(path: str, tag: str) -> str:
    """The hidden sibling ``_<table>__<tag>`` of the table at ``path``:
    Hadoop listings skip ``_`` names without ``=``, so a copy a killed
    compaction leaves there is never read as part of the parent
    directory (an index root reads as its one data table)."""
    head, name = os.path.split(path.rstrip("/"))
    return os.path.join(head, f"_{name}__{tag}")


def _swap_dir(path: str, tmp: str) -> None:
    """Crash-safe local-FS directory swap: rename the live table aside
    (its ``old`` staged sibling), move ``tmp`` into place, then delete
    the old copy; a failure moving the new copy in restores the old one
    and drops ``tmp``. An old copy left by a crash in an earlier swap's
    cleanup is removed first."""
    old = _staged(path, "old")
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    try:
        shutil.move(tmp, path)
    except Exception:
        os.rename(old, path)  # restore the live table before failing
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(old)


def compact_batch_partitions(spark: SparkSession, path: str,
                             schema: Optional[str],
                             fold: Callable[[DataFrame], DataFrame],
                             upto: Optional[int] = None, *,
                             partition_by: tuple = (),
                             allow_uncommitted_tail: bool = False) -> dict:
    """Fold the seed and every partition with ``_rm_batch_id < upto``
    into the seed through ``fold`` (the table's probe reduction, given
    the rows without the batch column); later partitions are carried
    over untouched. ``upto=None`` is the always-safe watermark, the
    maximum batch id present (see the module docstring). The rewrite
    stages into the hidden ``_<table>__compact`` sibling (replacing one
    a killed run left) and swaps in by rename-aside, so the live table
    exists at every instant. The rewrite keeps the table's column
    metadata (an index's recorded build parameters). Returns
    ``{"rows_before", "rows_after", "rows_removed", "batches_folded"}``;
    when nothing would change (no partition to fold, or only one whose
    fold removes no row) it is a no-op, with no swap."""
    check_layout(spark, path, "state table")
    df = _read(spark, path, schema)
    mx = df.agg(F.max(BATCH_COL)).first()[0]
    if mx is None:
        return {"rows_before": 0, "rows_after": 0,
                "rows_removed": 0, "batches_folded": 0}
    if upto is None:
        upto = int(mx)
    elif upto > int(mx) and not allow_uncommitted_tail:
        # folding the maximum partition, possibly a crashed batch's
        # half-write, would let the replay see its own partial state
        # as prior history: only safe with the stream stopped and all
        # batches committed, so it takes the explicit opt-in
        raise ValueError(
            f"upto={upto} is above the max present batch id ({int(mx)}) "
            f"at {path}: folding the tail partition is only safe when "
            f"the stream is stopped with all batches committed; pass "
            f"allow_uncommitted_tail=True to opt in.")
    col = F.col(BATCH_COL)
    old = df.filter((col < upto) | (col == SEED_BATCH_ID))
    n_old_batches = old.select(BATCH_COL).distinct().count()
    before = df.count()
    folded = fold(old.drop(BATCH_COL))
    if n_old_batches == 0 or (n_old_batches == 1
                              and folded.count() == old.count()):
        return {"rows_before": int(before), "rows_after": int(before),
                "rows_removed": 0, "batches_folded": 0}
    out = (folded.withColumn(BATCH_COL, F.lit(SEED_BATCH_ID).cast("long"))
           .unionByName(df.filter(col >= upto).filter(col != SEED_BATCH_ID)))
    for f in df.schema:
        if f.metadata:  # the optimizer's dedup aggregate would drop it
            out = out.withMetadata(f.name, f.metadata)
    tmp = _staged(path, "compact")
    (out.write.mode("overwrite").partitionBy(BATCH_COL, *partition_by)
     .parquet(tmp))
    _swap_dir(path, tmp)
    after = _read(spark, path, schema).count()
    return {"rows_before": int(before), "rows_after": int(after),
            "rows_removed": int(before - after),
            "batches_folded": int(n_old_batches)}
