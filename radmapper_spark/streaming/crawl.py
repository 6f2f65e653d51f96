"""Streaming CRAWL ADMISSION — the web tier's incremental loop (r15:
closes the batch/streaming asymmetry for the crawl side the way
streaming/ingest.py closed it for the text side in r14). Per
micro-batch of fetched pages (doc_id, url, html):

    URL canonicalization (web.canonicalize_urls; schemeless dropped)
    -> within-batch first-fetch-wins per canonical URL
    -> cross-batch URL dedup (persisted url-hash index, anti-join)
    -> cross-batch PER-HOST VOLUME CAP (persisted per-batch host
       counts: a host's budget is consumed in ARRIVAL order across the
       whole stream, never re-ranked)
    -> HTML main-text extraction + C4 token floor + Gopher quality
       gate (web.html_extract / web.gopher_quality — map-only)
    -> admitted pages appended to ``out_path``.

Ordering contract: the batch pipeline (entrypoints.pipeline_web_crawl)
caps each host in HASH order — append-stable for a fixed corpus but
not incrementally computable (a later page may hash smaller and
displace an earlier admit). An unbounded stream can only honor
ARRIVAL order, so this loop admits the first ``host_cap`` pages per
host by (batch, doc_id) — the same distinction as hash shards vs the
offline permutation layout in the text-ingest loop. The batch twin
entry (entrypoints.stream_crawl_ingest) ranks by doc_id to match.

Scale shape per micro-batch: canonicalization and extraction are
map-only projections; the URL probe is one anti-join whose batch side
is micro-batch-sized; the host-cap join reads the long-skinny
(host, n) counts table, an aggregate bounded by (#hosts x #batches)
rows that streaming/compaction.py folds out-of-band. The Gopher gate
runs AFTER the cap, so the expensive string work touches only
surviving pages.

Replay safety: every table (both state tables and the output) follows
the per-batch state protocol of streaming/state.py (prior-view reads,
own-partition writes), so kill and restart is byte-identical
(test-proven).

Reference: the reference repo has no streaming and no web operators —
this module composes the repo's own oracle-gated crawl stages
(operators/web.py) behind the incremental admission contract of
streaming/ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import portable_hash as PH
from ..operators import web
from ..session import persist
from . import state
from .state import BATCH_COL

#: salt for the canonical-URL dedup hash (both engines)
URL_SALT = "crawlurl"
#: persisted state schemas — read with EXPLICIT schemas so empty seeds
#: (zero files) load and the partition column types as LONG
_URL_IDX_SCHEMA = f"url_hash long, {BATCH_COL} long"
_HOST_CNT_SCHEMA = f"host string, n long, {BATCH_COL} long"


def url_hash(canonical_url_col) -> F.Column:
    """60-bit portable hash of the canonical URL — the dedup key (NULL
    canonical urls never reach it: schemeless rows are dropped before
    the probe)."""
    return PH.ph60(F.concat(F.lit(f"{URL_SALT}:"), canonical_url_col))


def duck_url_hash(expr: str) -> str:
    return PH.duck_ph60(f"'{URL_SALT}:' || ({expr})")


def build_url_index(pages: DataFrame, path: str,
                    url_col: str = "url") -> None:
    """Seed the URL dedup index from an already-fetched page set:
    canonicalize, hash, distinct, as the seed partition. Overwrites
    ``path``; pass an empty frame to start from nothing."""
    canon = web.canonicalize_urls(pages, url_col=url_col)
    state.write_seed(
        canon.filter(F.col("canonical_url").isNotNull())
        .select(url_hash(F.col("canonical_url")).alias("url_hash"))
        .distinct(), path)


def build_host_counts(path: str, spark) -> None:
    """Initialize an EMPTY per-batch host-counts table (the seed
    partition carries no rows — a fresh stream owes every host its
    full budget)."""
    state.write_seed(spark.createDataFrame([], "host string, n long"),
                     path)


def start_crawl_ingest(pages_stream: DataFrame, url_index_path: str,
                       host_counts_path: str, out_path: str,
                       checkpoint: str, host_cap: int = 10,
                       min_tokens: int = 60,
                       id_col: str = "doc_id"):
    """Start the composed crawl-admission loop on a fetched-pages
    stream (columns: id_col, url, html). Returns the StreamingQuery
    (it drains what the source holds, then stops). ``build_url_index``
    and ``build_host_counts`` must have created the state tables
    (possibly empty)."""
    spark0 = pages_stream.sparkSession
    state.check_layout(spark0, url_index_path, "url index")
    state.check_layout(spark0, host_counts_path, "host counts")

    def ingest_batch(batch_df, batch_id):
        spark = batch_df.sparkSession
        canon = (web.canonicalize_urls(batch_df)
                 .filter(F.col("canonical_url").isNotNull())
                 .withColumn("_rm_uh",
                             url_hash(F.col("canonical_url"))))
        # within-batch dedup keyed on the HASH, not the raw url, so all
        # three dedup layers — this window, the persisted index probe,
        # and the batch twin's window — share ONE key (r15 advice: a
        # raw-url window admitted two pages on an in-batch 60-bit
        # collision where the twin admits one)
        wurl = Window.partitionBy("_rm_uh").orderBy(F.col(id_col).asc())
        first = (canon
                 .withColumn("_rm_cr_rn", F.row_number().over(wurl))
                 .filter(F.col("_rm_cr_rn") == 1).drop("_rm_cr_rn"))
        idx = state.read_prior(spark, url_index_path, batch_id,
                               _URL_IDX_SCHEMA)
        fresh = persist(first.join(
            idx, first["_rm_uh"] == idx["url_hash"], "left_anti"))
        prior = (state.read_prior(spark, host_counts_path, batch_id,
                                  _HOST_CNT_SCHEMA)
                 .groupBy("host")
                 .agg(F.sum("n").alias("_rm_prior_n")))
        whost = Window.partitionBy("host").orderBy(F.col(id_col).asc())
        # persisted: the out write AND the host-counts write both
        # consume it — without the cache the second job re-reads the
        # growing counts table and re-runs the window (r15 third review)
        admitted = persist(
            fresh.withColumn("_rm_hr", F.row_number().over(whost))
            .join(prior, "host", "left")
            .withColumn("_rm_prior_n",
                        F.coalesce(F.col("_rm_prior_n"), F.lit(0)))
            .filter(F.col("_rm_prior_n") + F.col("_rm_hr") <= host_cap))
        gated = web.extract_floor_gate(admitted,
                                       min_tokens=min_tokens)
        state.write_batch(gated.select(
            id_col, "canonical_url", "host", "n_lines_kept",
            "n_extracted_tokens", "extracted_text"), out_path, batch_id)
        # state updates, both replay-deterministic: the host counts
        # record CAP-ADMITTED pages (the cap governs fetch volume, not
        # extraction quality); the URL index claims EVERY fresh
        # canonical url (first fetch wins even when the cap or the
        # quality gate rejects the page — a later re-fetch of the same
        # resource is never "first").
        #
        # ORDER MATTERS: the url-index write must come LAST. Writing a
        # path invalidates every cached plan that reads it
        # (CacheManager recache-by-path), so an index write before the
        # host-counts job would force `admitted` to RECOMPUTE the
        # anti-join against a REFRESHED file listing — and when the
        # seed index had zero files, the relation resolved with an
        # empty partition schema, so re-reading files that now sit
        # under _rm_batch_id= dirs trips Spark's partition-values
        # assertion (found by the differential test; ingest.py's loop
        # has the same index-write-last shape for the same reason).
        state.write_batch(admitted.groupBy("host")
                          .agg(F.count(F.lit(1)).cast("long").alias("n")),
                          host_counts_path, batch_id)
        state.write_batch(fresh.select(F.col("_rm_uh").alias("url_hash")),
                          url_index_path, batch_id)

    return state.start_batches(pages_stream, ingest_batch, checkpoint)
