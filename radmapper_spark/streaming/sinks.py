"""Streaming sinks with checkpoint recovery (SURVEY §2.1/§2.11 tier).

The file sink + checkpoint pair is Spark's exactly-once story: offsets
and sink-committed batch ids live in the checkpoint, so a crashed or
stopped query RESUMES where it left off — re-running it neither skips
nor duplicates data (test-asserted by restarting a query over a grown
source against the same checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def start_parquet_sink(df: DataFrame, path: str, checkpoint: str,
                       available_now: bool = True,
                       output_mode: str = "append"):
    """Start (or RESTART — same checkpoint resumes exactly-once) a
    parquet file sink for a streaming DataFrame. available_now=True
    drains everything currently available and terminates: the batch-job
    shape of an incremental pipeline (run it on a schedule; each run
    processes exactly the new data)."""
    w = (df.writeStream.format("parquet")
         .option("path", path)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_cdc_apply(changes: DataFrame, base_path: str, out_path: str,
                    checkpoint: str, keys: list, ts_col: str,
                    deleted_col: str = "_deleted"):
    """Streaming CDC apply: drain a change STREAM and merge it onto the
    keyed table at base_path with latest-wins + tombstones
    (operators.cdc.merge_latest), rewriting out_path atomically per
    micro-batch via foreachBatch.

    Exactly-once shape: the checkpoint dedupes change batches across
    restarts, and the merge itself is idempotent (applying the same
    change twice yields the same winner), so replays are harmless.
    On a real lakehouse the foreachBatch body would be a MERGE INTO on a
    table format with upsert support (the whole-table rewrite here is the
    plain-parquet stand-in); merge_latest's max-struct reduce — one key
    shuffle, map-side partials — is the part that carries to 100 TB.
    availableNow trigger: each run drains the currently-available
    changes, the scheduled-incremental shape."""
    from ..operators.cdc import merge_latest

    def apply_batch(batch_df, batch_id):
        spark = batch_df.sparkSession
        base = spark.read.parquet(base_path)
        merged = merge_latest(base, batch_df, keys=keys, ts_col=ts_col,
                              deleted_col=deleted_col)
        # stage-then-swap: write to a batch-scoped dir, then overwrite the
        # base non-atomically only after the write succeeded (plain
        # parquet has no atomic swap; a table format would MERGE instead)
        merged.write.mode("overwrite").parquet(out_path)

    return _start_batches(changes, apply_batch, checkpoint)


def _start_batches(stream: DataFrame, fn, checkpoint: str):
    """Drain ``stream`` through ``fn(batch_df, batch_id)`` with the
    availableNow trigger against ``checkpoint``."""
    return (stream.writeStream
            .foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def _release(df: DataFrame) -> None:
    """Call the ``rm_release_cache`` an operator attached to ``df``."""
    rel = getattr(df, "rm_release_cache", None)
    if rel is not None:
        rel()


def _probe_loop(stream: DataFrame, out_path: str, checkpoint: str, probe):
    """The probe sink of both index kinds: per micro-batch, append
    ``probe(batch_df)``'s hits to out_path, then release the probe's
    cache."""
    def probe_batch(batch_df, batch_id):
        hits = probe(batch_df)
        hits.write.mode("append").parquet(out_path)
        _release(hits)

    return _start_batches(stream, probe_batch, checkpoint)


def start_neardup_probe(docs_stream: DataFrame, index_path: str,
                        out_path: str, checkpoint: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 32, bands: int = 8,
                        shingle_k: int = 5,
                        jaccard_threshold: float = 0.5,
                        hash_mode: str = "xxhash64"):
    """Streaming near-dup admission control: each micro-batch of incoming
    documents is probed against the PERSISTED minhash index
    (dedup.neardup_vs_index — signatures computed for the batch only,
    equi-join on the banded index, corpus text never read) and the hits
    are appended to out_path. The checkpoint dedupes batches across
    restarts; the probe itself is a pure function of (batch, index), so
    replays append identical rows at worst into distinct batch files.

    This is the ingest-pipeline shape: new crawl data streams in, the
    index answers "have we seen this before" incrementally, and the
    index itself is refreshed out-of-band (build_minhash_index) on
    whatever cadence the corpus grows."""
    from ..operators.dedup import neardup_vs_index

    return _probe_loop(
        docs_stream, out_path, checkpoint,
        lambda b: neardup_vs_index(
            b, index_path, text_col=text_col, id_col=id_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
            jaccard_threshold=jaccard_threshold, hash_mode=hash_mode))


def _resolve_admission(batch_df: DataFrame, id_col: str,
                       hits: DataFrame, intra: DataFrame,
                       est_col: str):
    """TRANSITIVE intra-batch admission for the streaming ingest loops:
    near-dup pairs inside a micro-batch (id_a < id_b, in any id type; a
    repeated pair counts once) cluster by graph.connected_components —
    near-duplication as an equivalence over the batch, as in the batch
    dedup_groups, under the same gate, so no batch size fails — then

    - a cluster containing ANY index-rejected member is rejected
      wholesale (it chains to already-indexed content);
    - a clean cluster admits its SMALLEST id (the component label) and
      rejects the rest.

    Invariant: **every audit row's index_id references a document that
    IS in the index once the batch commits** — a clean-cluster loser
    references the admitted representative (with the direct pair
    estimate, NULL when it only chains transitively), a tainted-cluster
    loser the index document its cluster chains to: the smallest
    index_id hit by its smallest hit member (NULL estimate). Returns
    (audit_extra, rejected_ids) frames over one checkpointed loser set —
    audit rows for intra losers in the hits schema, and a 1-column
    ``rid`` frame of every rejected id for the survivor anti-join."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    id_t = batch_df.schema[id_col].dataType
    idx_t = hits.schema["index_id"].dataType
    intra = (intra.groupBy("id_a", "id_b").agg(F.max(est_col).alias("_est"))
             .localCheckpoint(eager=True))
    tgt = hits.groupBy("new_id").agg(F.min("index_id").alias("_tgt"))
    hit_node = F.when(F.col("_tgt").isNotNull(), F.col("node"))
    members = (connected_components(intra)
               .join(tgt, F.col("node") == F.col("new_id"), "left")
               .withColumn("_ctgt", F.min_by("_tgt", hit_node)
                           .over(Window.partitionBy("component"))))
    # direct hits are audited by the probe already
    losers = (members.filter(F.col("_tgt").isNull()
                             & (F.col("_ctgt").isNotNull()
                                | (F.col("node") != F.col("component"))))
              .join(intra.select(F.col("id_a").alias("component"),
                                 F.col("id_b").alias("node"), "_est"),
                    ["component", "node"], "left")
              .localCheckpoint(eager=True))  # read by both outputs
    audit_extra = losers.select(
        F.col("node").cast(id_t).alias("new_id"),
        F.coalesce("_ctgt", F.col("component").cast(idx_t)).alias("index_id"),
        F.when(F.col("_ctgt").isNull(), F.col("_est")).cast("double")
        .alias(est_col))
    rejected = (losers.select(F.col("node").cast(id_t).alias("rid"))
                .unionByName(tgt.select(F.col("new_id").cast(id_t)
                                        .alias("rid"))))
    return audit_extra, rejected


def _admission_loop(stream: DataFrame, out_path: str, checkpoint: str,
                    id_col: str, probe, intra_pairs, append, est_col: str):
    """The admission loop of both index kinds: per micro-batch, probe
    the index (``probe``), resolve the batch's own near-dup pairs
    (``intra_pairs``, estimate column ``est_col``) transitively via
    _resolve_admission, append the audit trail to out_path, admit the
    survivors (``append``), then release every cache the operators
    attached."""
    def admit_batch(batch_df, batch_id):
        batch_df = batch_df.persist()
        hits = probe(batch_df).persist()
        intra = intra_pairs(batch_df)
        audit_extra, rejected = _resolve_admission(
            batch_df, id_col, hits, intra, est_col)
        hits.unionByName(audit_extra).write.mode("append").parquet(out_path)
        append(batch_df.join(
            rejected, batch_df[id_col] == F.col("rid"), "left_anti"))
        _release(intra)
        _release(hits)
        hits.unpersist()
        batch_df.unpersist()

    return _start_batches(stream, admit_batch, checkpoint)


def start_neardup_admission(docs_stream: DataFrame, index_path: str,
                            out_path: str, checkpoint: str,
                            text_col: str = "text", id_col: str = "doc_id",
                            num_hashes: int = 32, bands: int = 8,
                            shingle_k: int = 5,
                            jaccard_threshold: float = 0.5,
                            hash_mode: str = "xxhash64"):
    """The FULL streaming admission loop: for each micro-batch of
    incoming documents,

    1. PROBE the persisted minhash index (neardup_vs_index — batch
       signatures only, corpus text never read);
    2. write the AUDIT TRAIL of every rejection to ``out_path``: index
       duplicates as (new_id, index_id, est_jaccard), and intra-batch
       losers against a document that IS in the index after the batch
       commits (_resolve_admission's invariant) — a rejected document
       always leaves a record;
    3. ADMIT the batch's surviving documents into the index
       (append_to_minhash_index), so every FUTURE batch sees them.

    Admission is TRANSITIVE per micro-batch (see _resolve_admission):
    intra-batch near-dup pairs (minhash_lsh_pairs over the batch)
    cluster by graph.connected_components (driver union-find under
    rm.broadcastMaxBytes, the Spark star loop above it — no batch-size
    cap); a cluster that chains to indexed content is rejected
    wholesale, a clean cluster admits its smallest id. Without the
    intra pass, two identical docs arriving together would both be
    admitted because neither is in the index yet.
    Deterministic given the micro-batch contents.

    Restart caveat: unlike the pure probe sink, neither the index
    append NOR the audit write is idempotent under batch replay — a
    replayed batch appends duplicate index rows and duplicate audit
    rows. Probes stay CORRECT (candidate pairs are dropDuplicates'd on
    (new_id, index_id) and duplicate signatures carry identical
    estimates), so replay costs storage, not answers; compact the index
    out-of-band (and dedupe the audit on read) if replays accumulate."""
    from ..operators.dedup import (append_to_minhash_index,
                                   minhash_lsh_pairs, neardup_vs_index)

    params = dict(text_col=text_col, id_col=id_col,
                  num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
                  hash_mode=hash_mode)
    return _admission_loop(
        docs_stream, out_path, checkpoint, id_col,
        lambda b: neardup_vs_index(b, index_path,
                                   jaccard_threshold=jaccard_threshold,
                                   **params),
        lambda b: minhash_lsh_pairs(b, jaccard_threshold=jaccard_threshold,
                                    **params),
        lambda b: append_to_minhash_index(b, index_path, **params),
        "est_jaccard")


def start_embedding_probe(vec_stream: DataFrame, index_path: str,
                          out_path: str, checkpoint: str,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id",
                          threshold: float = 0.45):
    """Streaming embedding near-dup admission control — the embedding
    twin of start_neardup_probe: each micro-batch of incoming vectors is
    probed against the PERSISTED embedding index
    (dedup.neardup_embedding_vs_index — one exact cosine_join of the
    index's vectors table against the batch; the corpus table is never
    read) and the hits (new_id, index_id, cosine) append to out_path.
    Same checkpoint / replay contract as the minhash probe."""
    from ..operators.dedup import neardup_embedding_vs_index

    return _probe_loop(
        vec_stream, out_path, checkpoint,
        lambda b: neardup_embedding_vs_index(
            b, index_path, vec_col=vec_col, id_col=id_col,
            threshold=threshold))


def start_embedding_admission(vec_stream: DataFrame, index_path: str,
                              out_path: str, checkpoint: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.45):
    """The embedding twin of start_neardup_admission — the full
    streaming ingest loop for vectors: per micro-batch, probe the
    persisted embedding index (neardup_embedding_vs_index, exact), write
    the audit trail of EVERY rejection to ``out_path`` (index duplicates
    AND intra-batch losers, the latter recorded against a vector that IS
    in the index after the batch commits), then ADMIT the surviving
    vectors (append_to_embedding_index) so future batches see them.
    Intra-batch duplicates resolve TRANSITIVELY per cluster via
    _resolve_admission (connected components under the one gate) over
    the batch operator embedding_cosine_pairs — both passes are
    cosine_join, so the probe and the intra pairs apply the same exact
    threshold. Clean clusters admit their smallest id; clusters
    chaining to indexed content are rejected wholesale. Same restart
    caveat as the minhash loop: replays append duplicate index AND
    audit rows, and a duplicated index row repeats its probe hits until
    dedup.compact_embedding_index drops it."""
    from ..operators.dedup import (append_to_embedding_index,
                                   embedding_cosine_pairs,
                                   neardup_embedding_vs_index)

    params = dict(vec_col=vec_col, id_col=id_col)
    return _admission_loop(
        vec_stream, out_path, checkpoint, id_col,
        lambda b: neardup_embedding_vs_index(b, index_path,
                                             threshold=threshold, **params),
        lambda b: embedding_cosine_pairs(b, vec_col, id_col, threshold),
        lambda b: append_to_embedding_index(b, index_path, **params),
        "cosine")
