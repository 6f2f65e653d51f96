"""Streaming END-TO-END training-data ingest (r13 verdict item #2):
the streaming twin of the batch pipeline entry — per micro-batch,

    exact-dedup admission (persisted norm-hash index, first-id-wins)
    -> NB/Pareto quality gate (classifier.quality_admit — broadcast
       model, score at ingest)
    -> corpus-BPE tokenize + exact context-length chunking
    -> checkpointed shard APPEND (hash-assigned shards, so the layout
       is a pure per-chunk function — no global rank exists on an
       unbounded stream)

Every stage is an already-oracle-gated operator; this module composes
them behind one `foreachBatch` loop so the whole ingest path — index
probe, admission, gating, chunking, shard write — runs incrementally.
The dedup rule is FIRST-SEEN-WINS over the 60-bit portable hash of the
whitespace-normalized text: with micro-batches arriving in id order it
reproduces the batch pipeline's "lowest doc_id per normalized text"
rule exactly (the differential test feeds ordered batches and compares
against the batch twin in entrypoints.stream_training_ingest).

Scale shape per micro-batch: the index probe is one anti-join whose
batch side is micro-batch-sized (broadcastable); the gate is the
stream-static broadcast token join; chunking and shard assignment are
map-only; the index write holds only the batch's admitted hashes, and
streaming/compaction.py folds old per-batch partitions into the seed
out-of-band. At 100 TB the norm-hash index is a long-skinny BIGINT
table; bucket it by ``norm_hash % B`` out-of-band if the probe's
index-scan side ever dominates.

Restart safety: the shards ARE the training data, so a replayed batch
must append nothing. The index and the chunk output both follow the
per-batch state protocol of streaming/state.py: the probe reads the
index without the batch's own partition, and both writes replace
exactly the batch's own partitions. Consumers therefore read shards
partitioned by ``(_rm_batch_id, shard)``; the provenance column is
the price of exactly-once output (and per-batch lineage and retention
become partition operations). Proven by the kill-and-restart tests in
tests/test_stream_ingest.py and tests/test_compaction.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import portable_hash as PH
from ..session import persist
from . import state
from .state import BATCH_COL

#: salt for the normalized-text dedup hash (both engines)
NORM_SALT = "ingest-norm"
#: salt for the shard assignment hash
SHARD_SALT = "ingest"
#: chunk_id = doc_id * CHUNK_STRIDE + chunk_seq — ONE definition shared
#: with the batch shard entries (r14 review: two independent 1_000_000
#: constants could silently fork the streaming and offline shard keys)
from ..operators.tokenizer import CHUNK_ID_STRIDE as CHUNK_STRIDE


def norm_text_hash(text_col) -> F.Column:
    """60-bit portable hash of the whitespace-normalized text — the
    dedup key, built on dedup.normalize_text (the ONE corpus
    text-normalization rule; r14 review: an inlined copy here could
    silently fork from exact_dedup's). NULL text hashes to NULL; SQL
    window PARTITION BY groups NULLs together in both engines, so
    all-null-text docs dedup to one representative exactly like any
    other group — the probe join below must therefore be NULL-SAFE."""
    from ..operators.dedup import normalize_text
    return PH.ph60(F.concat(F.lit(f"{NORM_SALT}:"),
                            normalize_text(text_col)))


def duck_norm_text_hash(text_expr: str = "text") -> str:
    """DuckDB twin of norm_text_hash, built from dedup's shared
    duck_normalize_text helper (r14 advice: an inlined normalization
    copy here was exactly the silent-fork risk the norm_text_hash
    docstring warns about on the Spark side)."""
    from ..operators.dedup import duck_normalize_text
    return PH.duck_ph60(f"'{NORM_SALT}:' || {duck_normalize_text(text_expr)}")


def shard_col(chunk_id_col, n_shards: int) -> F.Column:
    """Stream-compatible shard assignment: a pure per-chunk hash — the
    set of rows per shard is deterministic and append-stable (unlike a
    global permutation rank, which cannot exist on an unbounded
    stream; the offline materialize_training_shards entries own that
    layout)."""
    h = PH.ph60(F.concat(F.lit(f"{SHARD_SALT}:"),
                         chunk_id_col.cast("string")))
    return (h % F.lit(int(n_shards))).cast("long")


def duck_shard_expr(chunk_id_expr: str, n_shards: int) -> str:
    h = PH.duck_ph60(f"'{SHARD_SALT}:' || ({chunk_id_expr})::VARCHAR")
    return f"(({h}) % {int(n_shards)})"


def chunk_id_col(id_col: str = "doc_id",
                 seq_col: str = "chunk_seq") -> F.Column:
    """BIGINT chunk key with the loud stride-overflow guard (a doc with
    >= CHUNK_STRIDE chunks would collide into the next doc's range)."""
    seq = F.when(
        F.col(seq_col) < F.lit(CHUNK_STRIDE),
        F.col(seq_col).cast("long"),
    ).otherwise(F.raise_error(F.lit(
        f"chunk_seq >= {CHUNK_STRIDE}: chunk_id would collide across "
        f"documents — raise tokenizer.CHUNK_ID_STRIDE (the ONE shared "
        f"stride; this module only aliases it)")).cast("long"))
    return F.col(id_col).cast("long") * F.lit(CHUNK_STRIDE) + seq


def first_per_normhash(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       keep_hash_col: str = None) -> DataFrame:
    """Within-frame exact dedup: keep the lowest id per norm-hash (the
    batch pipeline rule, keyed on the portable hash so the stream's
    persisted index and the DuckDB twin share one definition). One
    exchange on the hash. With ``keep_hash_col`` set the hash column
    survives under that name, so callers that need it again (the
    ingest loop's index probe/append) don't pay a second md5 +
    normalize pass over the text — the widest column in the stream
    (r14 review)."""
    nh = keep_hash_col or "_rm_ing_nh"
    w = Window.partitionBy(nh).orderBy(F.col(id_col).asc())
    out = (docs.withColumn(nh, norm_text_hash(F.col(text_col)))
           .withColumn("_rm_ing_rn", F.row_number().over(w))
           .filter(F.col("_rm_ing_rn") == 1)
           .drop("_rm_ing_rn"))
    return out if keep_hash_col else out.drop(nh)


def duck_first_per_normhash_rn(text_expr: str = "text",
                               order_id: str = "doc_id") -> str:
    """SQL row_number expression of the same first-id-wins rule."""
    return (f"row_number() OVER (PARTITION BY "
            f"{duck_norm_text_hash(text_expr)} "
            f"ORDER BY {order_id} ASC)")


#: the persisted norm-hash index schema — read with this EXPLICIT
#: schema so an empty seed (zero files) still loads (inference would
#: fail), and so the batch partition column types as LONG
_IDX_SCHEMA = f"norm_hash long, {BATCH_COL} long"


def build_normhash_index(docs: DataFrame, path: str,
                         text_col: str = "text") -> None:
    """Materialize the dedup index over an existing corpus: one BIGINT
    ``norm_hash`` column, distinct, as the seed partition of the
    per-batch layout (streaming/state.py). Overwrites ``path``. Pass an
    empty frame to start an ingest from nothing."""
    state.write_seed(
        docs.select(norm_text_hash(F.col(text_col)).alias("norm_hash"))
        .distinct(), path)


def start_training_ingest(docs_stream: DataFrame, index_path: str,
                          out_path: str, checkpoint: str,
                          merges, vocab: DataFrame, params: dict,
                          chunk_tokens: int = 32, n_shards: int = 8,
                          text_col: str = "text",
                          id_col: str = "doc_id"):
    """Start the composed ingest loop on a documents stream. Per
    micro-batch:

    1. within-batch exact dedup (first id per norm-hash);
    2. cross-batch dedup: anti-join the persisted norm-hash index,
       EXCLUDING the batch's own partition (``build_normhash_index``
       must have created the index — possibly empty) — the exclusion
       makes the admitted set replay-deterministic even after a crash
       that half-wrote this batch's own index partition;
    3. OVERWRITE the batch's ``_rm_batch_id`` index partition with the
       dedup survivors' hashes regardless of the quality outcome (a
       first-seen text claims its slot even if gated out — exactly the
       batch rule, where a later duplicate is never "first");
    4. quality gate: classifier.quality_admit (broadcast model trained
       batch-side — ``vocab``/``params`` from nb_model/nb_model_params);
    5. corpus-BPE chunking (tokenizer.bpe_chunk_documents with the
       SAME trained merges) + hash shard assignment;
    6. OVERWRITE the batch's ``(_rm_batch_id, shard)`` chunk partitions
       under ``out_path`` (dynamic partition overwrite — a replay
       replaces its own output in place; see the module docstring).

    Returns the StreamingQuery (it drains whatever the source holds,
    checkpointed, then stops)."""
    from ..operators.classifier import quality_admit
    from ..operators.tokenizer import bpe_chunk_documents

    state.check_layout(docs_stream.sparkSession, index_path,
                       "norm-hash index")

    def ingest_batch(batch_df, batch_id):
        spark = batch_df.sparkSession
        nh = "_rm_ing_nh"
        survivors = first_per_normhash(batch_df, text_col, id_col,
                                       keep_hash_col=nh)
        idx = state.read_prior(spark, index_path, batch_id, _IDX_SCHEMA)
        # NULL-SAFE anti-join (r14 review): a NULL-text doc hashes to
        # NULL, and `NULL == NULL` is never TRUE — a plain equi
        # anti-join would re-admit one null-text doc per micro-batch
        # while the batch twin's window keeps exactly one
        fresh = persist(survivors.join(
            idx, survivors[nh].eqNullSafe(idx["norm_hash"]), "left_anti"))
        kept_ids = quality_admit(fresh, vocab, params,
                                 text_col=text_col, id_col=id_col
                                 ).select(id_col)
        kept_docs = fresh.drop(nh).join(kept_ids, id_col, "semi")
        chunks = bpe_chunk_documents(kept_docs, merges,
                                     chunk_tokens=chunk_tokens)
        out = (chunks.withColumn(
            "shard", shard_col(chunk_id_col(id_col), n_shards))
            .select(id_col, "chunk_seq", "chunk_start",
                    "n_chunk_tokens", "shard", "chunk_text"))
        state.write_batch(out, out_path, batch_id, "shard")
        state.write_batch(fresh.select(F.col(nh).alias("norm_hash")),
                          index_path, batch_id)

    return state.start_batches(docs_stream, ingest_batch, checkpoint)
