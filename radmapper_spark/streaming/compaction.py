"""Out-of-band COMPACTION of the streaming loops' per-batch state
tables: the crawl loop's url-hash index and host-counts table
(streaming/crawl.py) and the text-ingest loop's norm-hash index
(streaming/ingest.py) each grow one partition per micro-batch. Each
compactor here is streaming/state.compact_batch_partitions with the
table's own probe reduction as the fold (distinct membership for the
hash indexes, a BIGINT pre-sum for the counts); the state module
docstring says why folding below the default watermark keeps every
probe answer and kill -> compact -> restart byte-identical (tested for
both loops in tests/test_compaction.py).

Operational contract: run OUT OF BAND, between micro-batches or while
the stream is stopped; probes in flight during the swap are the
caller's exclusion to manage. An explicit ``upto`` above the max
present id is refused unless ``allow_uncommitted_tail=True`` (only
safe with the stream stopped and every batch committed).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession, functions as F

from . import crawl as _crawl
from . import ingest as _ingest
from .state import compact_batch_partitions


def compact_url_index(spark: SparkSession, path: str,
                      upto: Optional[int] = None, *,
                      allow_uncommitted_tail: bool = False) -> dict:
    """Compact the crawl loop's url-hash dedup index
    (streaming/crawl.py): membership is the probe question, so the
    fold is DISTINCT on the hash."""
    return compact_batch_partitions(
        spark, path, _crawl._URL_IDX_SCHEMA,
        lambda old: old.select("url_hash").distinct(), upto,
        allow_uncommitted_tail=allow_uncommitted_tail)


def compact_host_counts(spark: SparkSession, path: str,
                        upto: Optional[int] = None, *,
                        allow_uncommitted_tail: bool = False) -> dict:
    """Compact the crawl loop's per-batch host-counts table: the probe
    SUMs ``n`` per host over non-self partitions, so the fold is the
    same exact BIGINT pre-sum."""
    return compact_batch_partitions(
        spark, path, _crawl._HOST_CNT_SCHEMA,
        lambda old: old.groupBy("host")
        .agg(F.sum("n").cast("long").alias("n")), upto,
        allow_uncommitted_tail=allow_uncommitted_tail)


def compact_normhash_index(spark: SparkSession, path: str,
                           upto: Optional[int] = None, *,
                           allow_uncommitted_tail: bool = False) -> dict:
    """Compact the text-ingest loop's norm-hash dedup index
    (streaming/ingest.py) — distinct-membership fold, like the url
    index."""
    return compact_batch_partitions(
        spark, path, _ingest._IDX_SCHEMA,
        lambda old: old.select("norm_hash").distinct(), upto,
        allow_uncommitted_tail=allow_uncommitted_tail)


def compact_stream_state(spark: SparkSession, *,
                         url_index_path: Optional[str] = None,
                         host_counts_path: Optional[str] = None,
                         normhash_index_path: Optional[str] = None,
                         upto: Optional[int] = None) -> dict:
    """One-call maintenance for a deployment's streaming state: compact
    whichever tables are passed, each at its own safe watermark (or a
    shared explicit ``upto``). Returns a per-table result dict."""
    out = {}
    if url_index_path is not None:
        out["url_index"] = compact_url_index(spark, url_index_path, upto)
    if host_counts_path is not None:
        out["host_counts"] = compact_host_counts(
            spark, host_counts_path, upto)
    if normhash_index_path is not None:
        out["normhash_index"] = compact_normhash_index(
            spark, normhash_index_path, upto)
    return out
