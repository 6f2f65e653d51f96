"""Streaming sinks with checkpoint recovery (SURVEY §2.1/§2.11 tier).

The file sink + checkpoint pair is Spark's exactly-once story: offsets
and sink-committed batch ids live in the checkpoint, so a crashed or
stopped query RESUMES where it left off — re-running it neither skips
nor duplicates data (test-asserted by restarting a query over a grown
source against the same checkpoint).

The index probe and admission loops keep their outputs, and the
admission loops their index, in the per-batch state protocol of
streaming/state.py: a micro-batch probes the index without its own
partition and writes its hits, audit rows and admitted index rows as
its own batch partitions, so a replayed batch rewrites exactly its own
output (kill and restart is byte-identical, tested for both index
kinds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import persist
from . import state


def start_parquet_sink(df: DataFrame, path: str, checkpoint: str,
                       available_now: bool = True,
                       output_mode: str = "append"):
    """Start (or RESTART — same checkpoint resumes exactly-once) a
    parquet file sink for a streaming DataFrame. available_now=True
    drains everything currently available and terminates: the batch-job
    shape of an incremental pipeline (run it on a schedule; each run
    processes exactly the new data)."""
    return state.start(df.writeStream.format("parquet")
                       .option("path", path).outputMode(output_mode),
                       checkpoint, available_now)


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
    Each run drains the currently-available changes, the
    scheduled-incremental shape."""
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

    return state.start_batches(changes, apply_batch, checkpoint)


def _probe_loop(stream: DataFrame, out_path: str, checkpoint: str, probe):
    """The probe sink of both index kinds: per micro-batch, write
    ``probe(batch_df)``'s hits as the batch's partition of out_path."""
    def probe_batch(batch_df, batch_id):
        state.write_batch(probe(batch_df), out_path, batch_id)

    return state.start_batches(stream, probe_batch, checkpoint)


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
    are written to out_path as the batch's partition.

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
    # cached, not checkpointed: connected_components checkpoints the
    # pairs once, and the losers' estimate join reads this cache
    intra = persist(intra.groupBy("id_a", "id_b")
                    .agg(F.max(est_col).alias("_est")))
    tgt = hits.groupBy("new_id").agg(F.min("index_id").alias("_tgt"))
    hit_node = F.when(F.col("_tgt").isNotNull(), F.col("node"))
    members = (connected_components(intra)
               .join(tgt, F.col("node") == F.col("new_id"), "left")
               .withColumn("_ctgt", F.min_by("_tgt", hit_node)
                           .over(Window.partitionBy("component"))))
    # direct hits are audited by the probe already
    losers = persist(  # read by both outputs
        members.filter(F.col("_tgt").isNull()
                       & (F.col("_ctgt").isNotNull()
                          | (F.col("node") != F.col("component"))))
        .join(intra.select(F.col("id_a").alias("component"),
                           F.col("id_b").alias("node"), "_est"),
              ["component", "node"], "left"), checkpoint=True)
    audit_extra = losers.select(
        F.col("node").cast(id_t).alias("new_id"),
        F.coalesce("_ctgt", F.col("component").cast(idx_t)).alias("index_id"),
        F.when(F.col("_ctgt").isNull(), F.col("_est")).cast("double")
        .alias(est_col))
    rejected = (losers.select(F.col("node").cast(id_t).alias("rid"))
                .unionByName(tgt.select(F.col("new_id").cast(id_t)
                                        .alias("rid"))))
    return audit_extra, rejected


def _admission_loop(stream: DataFrame, table: str, out_path: str,
                    checkpoint: str, id_col: str, probe, intra_pairs,
                    index_rows, est_col: str, partition_by: tuple = ()):
    """The admission loop of both index kinds: per micro-batch, probe
    the prior view of the index data table ``table``
    (``probe(batch_df, prior)``), resolve the batch's own near-dup
    pairs (``intra_pairs``, estimate column ``est_col``) transitively
    via _resolve_admission, write the audit trail and the survivors'
    ``index_rows`` as the batch's partitions of out_path and of the
    table. The batch's scope (start_batches) frees what they persist."""
    def admit_batch(batch_df, batch_id):
        batch_df = persist(batch_df)
        prior = state.read_prior(batch_df.sparkSession, table, batch_id)
        hits = persist(probe(batch_df, prior))
        intra = intra_pairs(batch_df)
        audit_extra, rejected = _resolve_admission(
            batch_df, id_col, hits, intra, est_col)
        state.write_batch(hits.unionByName(audit_extra), out_path,
                          batch_id)
        state.write_batch(index_rows(batch_df.join(
            rejected, batch_df[id_col] == F.col("rid"), "left_anti")),
            table, batch_id, *partition_by)

    return state.start_batches(stream, admit_batch, checkpoint)


def start_neardup_admission(docs_stream: DataFrame, index_path: str,
                            out_path: str, checkpoint: str,
                            text_col: str = "text", id_col: str = "doc_id",
                            num_hashes: int = 32, bands: int = 8,
                            shingle_k: int = 5,
                            jaccard_threshold: float = 0.5,
                            hash_mode: str = "xxhash64"):
    """The FULL streaming admission loop: for each micro-batch of
    incoming documents,

    1. PROBE the persisted minhash index as every earlier batch left it
       (batch signatures only, corpus text never read);
    2. write the AUDIT TRAIL of every rejection to ``out_path``: index
       duplicates as (new_id, index_id, est_jaccard), and intra-batch
       losers against a document that IS in the index after the batch
       commits (_resolve_admission's invariant) — a rejected document
       always leaves a record;
    3. ADMIT the batch's surviving documents into the index, so every
       FUTURE batch sees them.

    Admission is TRANSITIVE per micro-batch (see _resolve_admission):
    intra-batch near-dup pairs (minhash_lsh_pairs over the batch)
    cluster by graph.connected_components (driver union-find under
    rm.broadcastMaxBytes, the Spark star loop above it — no batch-size
    cap); a cluster that chains to indexed content is rejected
    wholesale, a clean cluster admits its smallest id. Without the
    intra pass, two identical docs arriving together would both be
    admitted because neither is in the index yet.
    Deterministic given the micro-batch contents and the index, and
    replay-safe: the audit and the admitted rows are the batch's own
    partitions (streaming/state.py)."""
    from ..operators import dedup

    cols = dict(text_col=text_col, id_col=id_col)
    params = dedup._minhash_params(num_hashes, bands, shingle_k, hash_mode)
    table, _ = dedup._index_table(docs_stream.sparkSession, index_path,
                                  "minhash", params,
                                  "start_neardup_admission")
    return _admission_loop(
        docs_stream, table, out_path, checkpoint, id_col,
        lambda b, prior: dedup._minhash_probe(
            b, prior, jaccard_threshold=jaccard_threshold, **cols,
            **params),
        lambda b: dedup.minhash_lsh_pairs(
            b, jaccard_threshold=jaccard_threshold, **cols, **params),
        lambda b: dedup._minhash_rows(b, **cols, **params),
        "est_jaccard", ("band",))


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
    read) and the hits (new_id, index_id, cosine) are written to
    out_path as the batch's partition."""
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
    persisted embedding index as every earlier batch left it (exact
    cosine_join), write the audit trail of EVERY rejection to
    ``out_path`` (index duplicates AND intra-batch losers, the latter
    recorded against a vector that IS in the index after the batch
    commits), then ADMIT the surviving vectors so future batches see
    them. Intra-batch duplicates resolve TRANSITIVELY per cluster via
    _resolve_admission (connected components under the one gate) over
    the batch operator embedding_cosine_pairs — both passes are
    cosine_join, so the probe and the intra pairs apply the same exact
    threshold. Clean clusters admit their smallest id; clusters
    chaining to indexed content are rejected wholesale. Replay-safe
    like the minhash loop."""
    from ..operators import dedup

    table, _ = dedup._index_table(vec_stream.sparkSession, index_path,
                                  dedup._VECTORS_KIND, {},
                                  "start_embedding_admission")
    return _admission_loop(
        vec_stream, table, out_path, checkpoint, id_col,
        lambda b, prior: dedup._embedding_probe(b, prior, vec_col, id_col,
                                                threshold),
        lambda b: dedup.embedding_cosine_pairs(b, vec_col, id_col,
                                               threshold),
        lambda b: dedup._vector_rows(b, vec_col, id_col), "cosine")
