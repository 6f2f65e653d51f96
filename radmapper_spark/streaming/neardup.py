"""Stream-native NEAR-duplicate detection (north-star addition — the
reference has no streaming; SURVEY.md §2.11 extension family).

Training-data ingest wants near-dup filtering ON ARRIVAL: each incoming
document is matched against previously-seen documents, without re-running
a batch LSH job over the whole corpus. This operator is the streaming
form of minhash-LSH dedup:

  doc stream -> (band, bhash, id, minhash) rows from the batch
  operator's own builders (dedup.minhash_base, which drops NULL and
  whitespace-only docs, then the shared band-row builder
  dedup.minhash_bands; stateless Catalyst only) ->
  applyInPandasWithState keyed by bucket: per-bucket state is a BOUNDED
  ring of the `max_bucket` most recent (id, signature) members; each new
  arrival is compared against them (estimated Jaccard = matching minhash
  fraction) and matches are emitted as (id_a, id_b, est_jaccard).

Scale shape: state is hash-partitioned by bucket key alongside the
shuffle (1000-executor friendly); per-bucket state is bounded by
construction (a hot bucket — boilerplate text — costs max_bucket
signatures, not the whole stream), and an optional processing-time
timeout expires idle buckets. A pair that collides in several bands is
emitted once per band; callers dedup downstream (the tests do, and a
batch pipeline would dropDuplicates on (id_a, id_b)).

Differential oracle: on a bounded stream with max_bucket large enough
not to bind, the emitted pair set equals the BATCH operator's candidate
pairs at the same threshold (dedup.minhash_lsh_pairs) — asserted in
tests over a multi-file stream where duplicates arrive in LATER
micro-batches than their originals (state must carry across batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def neardup_stream(docs_stream: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", num_hashes: int = 32,
                   bands: int = 8, shingle_k: int = 5,
                   jaccard_threshold: float = 0.5, max_bucket: int = 64,
                   idle_timeout_ms: int = 0,
                   hash_mode: str = "xxhash64") -> DataFrame:
    """Streaming near-dup matches: (id_a, id_b, est_jaccard) with
    id_a < id_b, emitted when a new document's estimated Jaccard against a
    bucket member reaches `jaccard_threshold`. Works on a streaming OR
    batch-tested-via-stream DataFrame; see module docstring for semantics
    and state bounds. `idle_timeout_ms` > 0 expires buckets not touched
    within the duration (processing-time timeout)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import minhash_bands, minhash_base

    sigs = minhash_base(docs_stream, text_col, id_col, num_hashes,
                        shingle_k, hash_mode=hash_mode)
    banded = minhash_bands(sigs, num_hashes, bands, hash_mode)

    nh, thr, cap, tmo = num_hashes, jaccard_threshold, max_bucket, idle_timeout_ms

    # self-contained closure: executor workers can't import radmapper_spark
    def update(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, flat = state.get
            ids = list(ids)
            sigs = [list(flat[i * nh:(i + 1) * nh]) for i in range(len(ids))]
        else:
            ids, sigs = [], []
        out_a, out_b, out_j = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values("id")  # deterministic within-batch order
            for rid, sig in zip(pdf["id"], pdf["minhash"]):
                rid = int(rid)
                sig = [int(x) for x in sig]
                for oid, osig in zip(ids, sigs):
                    if oid == rid:
                        continue
                    est = sum(1 for x, y in zip(sig, osig) if x == y) / nh
                    if est >= thr:
                        a, b = (oid, rid) if oid < rid else (rid, oid)
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(est)
                ids.append(rid)
                sigs.append(sig)
                if len(ids) > cap:  # bounded ring: most recent cap members
                    ids, sigs = ids[-cap:], sigs[-cap:]
        state.update((ids, [x for s in sigs for x in s]))
        if tmo > 0:
            state.setTimeoutDuration(tmo)
        yield pd.DataFrame({"id_a": pd.Series(out_a, dtype="int64"),
                            "id_b": pd.Series(out_b, dtype="int64"),
                            "est_jaccard": pd.Series(out_j, dtype="float64")})

    return banded.groupBy("band", "bhash").applyInPandasWithState(
        update,
        outputStructType="id_a bigint, id_b bigint, est_jaccard double",
        stateStructType="ids array<bigint>, sigflat array<bigint>",
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if tmo > 0
                     else GroupStateTimeout.NoTimeout),
    )
