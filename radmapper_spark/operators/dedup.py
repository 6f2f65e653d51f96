"""Deduplication operators over a document table (100 TB training-data path).

All operators are pure DataFrame plans:

- exact_dedup: hash-groupBy on normalized text (one shuffle on the hash).
- minhash_lsh_pairs: shingle -> minhash -> band -> bucket-join. The
  candidate join is an equi-join on (band_id, band_hash) — only documents
  sharing a band bucket ever meet, so the shuffle is O(docs x bands), not
  O(docs^2).
- minhash_bands: the one (band, bhash, id, minhash) band-row builder.
  The batch self-join, the persisted index (build, append, probe) and
  the stream (streaming/neardup.py) all feed it minhash_base
  signatures, so every minhash path drops blank docs, and all of them
  verify with one estimate (_est_jaccard).
- simhash_dedup: 64-bit simhash via token-hash bit voting; near-dups share
  the simhash prefix buckets.
- ngram_jaccard_pairs: exact n-gram Jaccard on candidate pairs (verification
  stage after LSH).
- embedding_cosine_pairs: near-dup by exact embedding cosine, the
  cosine_join self-join. The embedding family has two Arrow kernels, one
  per shape: cosine_join for dense products (blocked GEMM) and
  cosine_verify for given candidate pairs. Sign-LSH (sign_lsh_base)
  remains only behind the persisted embedding index.

The text operators stay JVM-side (built-in functions only — no Python
UDFs in the hot path): xxhash64, transform, aggregate, explode.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plan_stats import broadcast_gate, est_plan_bytes

# -------------------------------------------------------------- exact

def normalize_text(col):
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def duck_normalize_text(expr: str = "text") -> str:
    """The ONE DuckDB twin of normalize_text (r14 advice: hand-copied
    normalization SQL in oracle bodies is a silent-fork risk — a future
    change to normalize_text would not propagate). New oracle SQL must
    build on this; the pre-existing inlined copies in entrypoints
    oracle bodies are guarded by
    tests/test_stream_ingest.py::test_inlined_norm_sql_matches_helper,
    which fails if this helper and any inlined copy ever diverge."""
    return f"regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g')"


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized) text.
    Groups on the normalized text ITSELF (Spark hash-partitions it
    internally) — keying on a 64-bit hash alone would collision-merge
    distinct documents at 1e10+ docs. Map-side partial agg, one shuffle."""
    return (
        docs.withColumn("__norm", normalize_text(F.col(text_col)))
        .groupBy("__norm")
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("__norm")
    )


def exact_dedup_keep(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated document set itself."""
    reps = exact_dedup(docs, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return docs.join(reps, on=id_col, how="inner")


def _stamp_base_params(frame: DataFrame, **params) -> DataFrame:
    """Record the build parameters on a signature-base frame (plain
    Python attr — pyspark DataFrames accept them and persist() returns
    the same object). Pair generators that accept a caller-supplied
    persisted ``base`` compare these against their own parameters and
    FAIL LOUDLY on mismatch (r10 advice): a minhash base built with a
    different num_hashes otherwise indexes past the signature array
    (NULL band hashes -> silently dropped pairs), and a simhash base
    with fewer nbits than bands*band_bits collapses high bands to a
    single all-zero hot bucket."""
    frame.rm_base_params = dict(params)
    return frame


def _check_base_params(base: DataFrame, op: str, **expect) -> None:
    """Validate a caller-supplied signature base against the consuming
    operator's parameters. Primary check: the rm_base_params attr every
    builder in this module stamps. Fallback for attr-less frames (built
    by hand, or round-tripped through a transformation that dropped the
    attr): a structural probe where the schema allows one — minhash
    signature LENGTH is visible in a one-row sample (the probe result
    is memoized back onto the frame object so repeated calls don't
    re-pay the job), and for packed-hash bases (simhash/phash bigints)
    a BOUNDED-SAMPLE min/max range probe (limit(256) before the
    aggregate — never a full scan of a caller-supplied 100 TB base)
    that catches a base packed with MORE bits than the consumer expects
    (r11 advice: a hand-built 64-bit base fed to a 60-bit-band operator
    would otherwise collapse the high bands to one hot bucket). The
    sample makes the wider-packed check probabilistic, and it is a
    PREFIX sample, not a uniform one: Spark's limit() reads the first
    rows of the first partition(s), so the 16^-256 miss-odds figure
    (each uniformly packed 64-bit value fits a 60-bit range w.p. 1/16)
    holds only when row order is independent of the packed value. A
    base SORTED by the packed hash keeps its out-of-range values past
    the prefix and passes the probe (r12 advice) — the probe is a
    cheap rejection witness for the common unsorted layout, never a
    guarantee. It stays a bounded prefix read on purpose: a uniform
    df.sample() needs a fraction (unknowable without a count) and a
    cross-partition sample pays a job over every file of a 100 TB
    base; the memo only helps same-object reuse, so the probe must
    stay cheap for parquet-round-tripped frames that arrive as fresh
    objects every read (r12 review). DOCUMENTED LIMIT: values carry no
    witness for shingle_k/hash_mode (minhash) or for a base packed
    with FEWER bits than expected (small values fit any wider range),
    so an attr-less base mismatched ONLY in those — or hash-sorted as
    above — still passes; keep the stamped attr (or the frame's
    parquet round-trip parameters) authoritative for them."""
    params = getattr(base, "rm_base_params", None)
    if params is not None:
        bad = {k: (params[k], v) for k, v in expect.items()
               if k in params and params[k] != v}
        if bad:
            raise ValueError(
                f"{op}: caller-supplied base was built with mismatched "
                f"parameters {{{', '.join(f'{k}: base={b!r} != caller={c!r}' for k, (b, c) in sorted(bad.items()))}}} "
                f"— rebuild the base with the operator's parameters")
        return
    if "num_hashes" in expect and "minhash" in base.columns:
        row = base.select(F.size("minhash").alias("n")).first()
        if row is not None and row["n"] != expect["num_hashes"]:
            raise ValueError(
                f"{op}: caller-supplied base has {row['n']}-hash "
                f"signatures but the operator expects "
                f"{expect['num_hashes']} — band hashing would index "
                f"past the array and silently drop pairs")
        if row is not None:
            # memoize ONLY the probed fact (never the caller's
            # unverified expectations) so the next call skips the job
            try:
                base.rm_base_params = {"num_hashes": int(row["n"])}
            except Exception:
                pass
        return
    # Packed-hash range probe (simhash: `nbits`; phash: `bits`). The
    # builders pack into the LOW n bits of a non-negative bigint, so an
    # observed value outside [0, 2^n) proves the base was built wider
    # than the consumer's band layout assumes. Vacuous at n == 64 (the
    # full signed range is in play) — nothing checkable there.
    for key, col in (("nbits", "simhash"), ("bits", "phash")):
        if key in expect and expect[key] < 64 and col in base.columns:
            probed = getattr(base, "_rm_probed_hash_range", None)
            if probed is None:
                row = (base.select(col).limit(256)
                       .agg(F.min(col).alias("lo"),
                            F.max(col).alias("hi")).first())
                if row is None or row["lo"] is None:
                    return  # empty base: nothing to witness
                probed = (int(row["lo"]), int(row["hi"]))
                try:
                    # the observed range is a fact about (a sample of)
                    # the frame — a valid witness for REJECTION but it
                    # does NOT pin the build params — memoized on a
                    # separate attr so rm_base_params stays authoritative
                    base._rm_probed_hash_range = probed
                except Exception:
                    pass
            lo, hi = probed
            if lo < 0 or hi >= (1 << expect[key]):
                raise ValueError(
                    f"{op}: caller-supplied base holds hash values in "
                    f"[{lo}, {hi}], outside the {expect[key]}-bit range "
                    f"the operator's band layout expects — a wider-packed "
                    f"base would collapse the high bands to one hot "
                    f"bucket; rebuild the base with the operator's "
                    f"parameters")
            return


def drop_blank_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Remove NULL / whitespace-only documents before near-dup pairing:
    blank docs have no shingles or tokens, so any signature computed for
    them is a hash of nothing — pairing them as "near-duplicates" is
    noise, and at corpus scale every blank doc would land in the same LSH
    bucket (a synthetic hot key). Applied by every pair generator."""
    return docs.filter(F.col(text_col).isNotNull()
                       & (F.trim(F.col(text_col)) != ""))


# -------------------------------------------------------------- shingles

def _shingles(col, k: int = 5):
    """Word k-shingles as an array<string> (empty-safe)."""
    words = F.split(normalize_text(col), " ")
    if k == 1:
        # 1-shingles ARE the words — skip the per-token slice/join lambda
        # (interpreted per element; measured ~25x the split cost, and it
        # lands on the single-threaded broadcast-collect path when the
        # gram frame is a broadcast build side)
        return words
    n = F.size(words)
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )).otherwise(F.array(F.array_join(words, " ")))


# -------------------------------------------------------------- minhash

def minhash_signature(docs: DataFrame, text_col: str = "text", num_hashes: int = 32,
                      shingle_k: int = 5, hash_mode: str = "xxhash64") -> DataFrame:
    """num_hashes minhash values per doc: min over h_i(shingle).
    Vectorized entirely in Catalyst: transform+array_min per hash — no UDF,
    no explode, no shuffle (beyond an input spread when the source arrives
    under-partitioned: a small parquet file scans as ONE task, and the
    per-doc hash loop is the hot part — at real scale the input is already
    wide and the spread is a no-op).

    hash_mode: "xxhash64" (production default — shingle hashed once, the
    num_hashes functions derived by rehashing the 8-byte base) or
    "portable" (md5-prefix base + Carter-Wegman affine family from
    functions.portable_hash, bit-identical in DuckDB SQL so the driver
    oracle can verify minhash values exactly)."""
    from ..functions import portable_hash as PH

    if not docs.isStreaming:  # .rdd probe is batch-only; a stream is
        npart = docs.sparkSession.sparkContext.defaultParallelism  # already
        if docs.rdd.getNumPartitions() < npart:                    # micro-
            docs = docs.repartition(npart)                         # batched
    sh = _shingles(F.col(text_col), shingle_k)
    # hash each shingle STRING once (the expensive part) and MATERIALIZE the
    # base-hash array as its own column: referenced num_hashes times below,
    # and CollapseProject only inlines multiply-referenced aliases when they
    # are cheap — so the string hashing runs once per doc, not num_hashes
    # times (measured 6x on the portable/md5 path). Then derive the
    # num_hashes functions from the small base hash — ~len(text)/8 fewer
    # bytes hashed per function.
    base_hash = (PH.ph28 if hash_mode == "portable"
                 else F.xxhash64)
    with_base = docs.withColumn(
        "_mh_base", F.transform(sh, lambda s: base_hash(s)))
    base = F.col("_mh_base")
    if hash_mode == "portable":
        def affine(a, b):
            # unary closure: pyspark's transform() dispatches on lambda
            # arity, so default-arg binding would make it look binary
            return lambda h: PH.affine_col(h, a, b)

        sig = F.array(*[
            F.array_min(F.transform(base, affine(a, b)))
            for a, b in PH.affine_coeffs(num_hashes)
        ])
    else:
        def rehash(i):
            # unary closure: pyspark's transform() dispatches on lambda
            # ARITY — a default-arg lambda (h, i=i) looks binary, so the
            # ARRAY INDEX gets passed as i, silently making all
            # num_hashes "functions" the same position-dependent one
            # (estimates then collapse to 0-or-1; found by the 50k-doc
            # stress test, 92/2500 planted pairs missed = the 1/27
            # probability the dup's extra shingle wins the min)
            return lambda h: F.xxhash64(h, F.lit(i))

        sig = F.array(*[
            F.array_min(F.transform(base, rehash(i)))
            for i in range(num_hashes)
        ])
    return with_base.withColumn("minhash", sig).drop("_mh_base")


def minhash_base(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", num_hashes: int = 32,
                 shingle_k: int = 5,
                 hash_mode: str = "xxhash64") -> DataFrame:
    """(id, minhash) signature frame consumed by minhash_lsh_pairs —
    split out so callers over an immutable corpus can persist it once
    per session (the simhash_base contract: signatures are a pure
    function of (corpus, params), and the shingling pass is
    the operator's dominant cost — measured 4.8 s to materialize vs
    0.24 s cached at sf0.1). NOT persisted here; callers decide."""
    return _stamp_base_params(
        minhash_signature(drop_blank_docs(docs, text_col), text_col,
                          num_hashes, shingle_k,
                          hash_mode=hash_mode).select(
            F.col(id_col).alias("id"), "minhash"),
        num_hashes=num_hashes, shingle_k=shingle_k, hash_mode=hash_mode)


def minhash_bands(sigs: DataFrame, num_hashes: int = 32, bands: int = 8,
                  hash_mode: str = "xxhash64") -> DataFrame:
    """(band, bhash, id, minhash), one row per signature per band: the
    ONE band-row builder of the minhash family (batch self-join, index
    build and append, index probe, stream). ``sigs`` is a minhash_base
    frame (id, minhash), so blank docs never reach a bucket. Band b
    hashes signature positions [b*r, (b+1)*r), r = num_hashes // bands,
    with xxhash64 or (hash_mode "portable") the polynomial combine
    DuckDB reproduces. The persisted index rows have exactly this
    shape. Stateless Catalyst only, so it runs on a stream too."""
    from ..functions import portable_hash as PH

    rows_per_band = num_hashes // bands

    def band_hash(b):
        vals = [F.col("minhash")[b * rows_per_band + r]
                for r in range(rows_per_band)]
        if hash_mode == "portable":
            return PH.poly_col(vals)
        return F.xxhash64(*vals)

    return sigs.select(
        "id", "minhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_hash(b).alias("bhash"))
            for b in range(bands)])).alias("bb"),
    ).select(F.col("bb.band").alias("band"),
             F.col("bb.bhash").alias("bhash"), "id", "minhash")


def _est_jaccard(mh_a: str, mh_b: str, num_hashes: int):
    """Estimated Jaccard of two minhash signature columns: the fraction
    of positions that match."""
    return F.aggregate(
        F.zip_with(F.col(mh_a), F.col(mh_b),
                   lambda a, b: (a == b).cast("int")),
        F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 32, bands: int = 8, shingle_k: int = 5,
                      jaccard_threshold: float = 0.5,
                      hash_mode: str = "xxhash64",
                      base: DataFrame = None) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified with estimated
    Jaccard (= fraction of matching minhashes).

    Plan shape: docs -> signatures (narrow) -> explode to (band, hash)
    [rows x bands] -> self-equi-join on (band, band_hash) -> distinct pairs
    -> verify. At 100 TB the bucket join is the only shuffle and AQE's
    skew-join handles hot buckets (boilerplate text).

    hash_mode "portable" makes every hash (base, family, band) an
    md5/affine/polynomial construction DuckDB reproduces bit-for-bit
    (see functions.portable_hash) — plan shape is IDENTICAL; only the
    leaf hash expressions change."""
    # persist the (small: id + num_hashes longs per doc) signature frame so
    # the self-join's two sides don't recompute the shingling; callers
    # over an IMMUTABLE corpus pass a persisted `base` instead and the
    # shingling is paid once per corpus ever
    owns_base = base is None
    if not owns_base:
        _check_base_params(base, "minhash_lsh_pairs",
                           num_hashes=num_hashes, shingle_k=shingle_k,
                           hash_mode=hash_mode)
    sigs = (minhash_base(docs, text_col, id_col, num_hashes, shingle_k,
                         hash_mode=hash_mode).persist()
            if owns_base else base)
    banded = minhash_bands(sigs, num_hashes, bands, hash_mode) \
        .select("id", "band", "bhash")
    left = banded.alias("l")
    # SHUFFLE_HASH: (band, bhash) buckets are near-uniform, so SMJ's two
    # sorts buy nothing (measured 2.5x slower on a sign-LSH band
    # self-join of the same shape at sf0.1)
    right = banded.alias("r").hint("shuffle_hash")
    # dedupe CANDIDATE ID PAIRS first (narrow rows through the shuffle),
    # then join the (persisted, small) signatures back for verification
    cand = (
        left.join(right, (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bhash") == F.col("r.bhash"))
                  & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("minhash").alias("mh_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("minhash").alias("mh_b"))
    cand = cand.join(sa, on="id_a").join(sb, on="id_b")
    out = (
        cand.withColumn("est_jaccard",
                        _est_jaccard("mh_a", "mh_b", num_hashes))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    # hand the persisted-signature handle to the caller: the cache must stay
    # live until the plan's action runs, so release is caller-scheduled
    # (a caller-owned base releases via the caller's own cache instead)
    out.rm_release_cache = sigs.unpersist if owns_base else (lambda: None)
    return out


# -------------------------------------------------------------- simhash

def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            nbits: int = 64, hash_mode: str = "xxhash64") -> DataFrame:
    """SimHash: per-token hash; each bit votes +1/-1; the sign of the vote
    is the fingerprint bit. Pure Catalyst expressions (aggregate over the
    token array with a BIGINT-array accumulator).

    hash_mode "xxhash64" (default): 64-bit token hash, fingerprint packs
    nbits into a signed bigint (top bit = sign bit when nbits == 64).
    hash_mode "portable": md5-prefix 60-bit token hash (nbits <= 60),
    fingerprint stays non-negative — both reproducible in DuckDB SQL."""
    from ..functions import portable_hash as PH

    # Scalable formulation: explode tokens -> one hash per token ->
    # nbits conditional sums in ONE groupBy(doc). Partial aggregation
    # happens map-side, shuffle carries nbits longs per doc; codegen stays
    # linear in nbits (a single giant per-row lambda blows up the
    # expression tree).
    npart = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < npart:
        # spread the map-side vote aggregation: a small parquet file scans
        # as one task; at real scale the input is already wide (no-op)
        docs = docs.repartition(npart)
    if hash_mode == "portable":
        assert nbits <= 60, "portable token hash is 60-bit"
        tok_hash = PH.ph60(F.col("tok"))
        bit_vals = [1 << i for i in range(nbits)]  # non-negative fingerprint
    else:
        tok_hash = F.xxhash64(F.col("tok"))
        bit_vals = [1 << i for i in range(nbits - 1)] + [-(1 << (nbits - 1))]
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", tok_hash)
    vote_cols = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"v{i}")
        for i in range(nbits)
    ]
    votes = toks.groupBy(id_col).agg(*vote_cols)
    fingerprint = None
    for i in range(nbits):
        piece = F.when(F.col(f"v{i}") > 0,
                       F.lit(bit_vals[i]).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        fingerprint = piece if fingerprint is None else fingerprint.bitwiseOR(piece)
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  prefix_bits: int = 16, max_ids: int = 100) -> DataFrame:
    """Bucket-summary diagnostic: docs sharing a simhash prefix. Returns
    (bucket, n_docs, ids) for buckets with >1 doc; rows are pre-limited to
    the `max_ids` smallest ids per bucket with a row_number window BEFORE
    the collect_list, so a hot bucket (e.g. near-empty docs) bounds the
    aggregation BUFFER too, not just the output row (a post-agg slice
    still collects every id into the buffer). For the scalable pairwise
    form use simhash_pairs()."""
    from pyspark.sql import Window
    sh = simhash(docs, text_col, id_col)
    bucket = F.shiftrightunsigned(F.col("simhash"), 64 - prefix_bits)
    w = Window.partitionBy("bucket")
    # count + row_number share the bucket partitioning; the groupBy below
    # reuses the same exchange (HashPartitioning(bucket) satisfies the
    # (bucket, n_docs) clustering), so this is still a one-shuffle plan
    return (
        sh.withColumn("bucket", bucket)
        .withColumn("n_docs", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(w.orderBy(id_col)))
        .filter((F.col("n_docs") > 1) & (F.col("rn") <= max_ids))
        .groupBy("bucket", "n_docs")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .select("bucket", "n_docs", "ids")
    )


def simhash_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, bands: int = 4,
                  band_bits: int = 16, nbits: int = 64,
                  hash_mode: str = "xxhash64",
                  base: DataFrame = None) -> DataFrame:
    """Near-duplicate pairs by banded SimHash — the scale path.

    Classic multi-table construction (Manku et al., WWW'07 "Detecting
    near-duplicates for web crawling"): split the 64-bit fingerprint into
    `bands` tables of `band_bits` each; any pair within Hamming distance
    `max_hamming` < `bands` agrees EXACTLY on at least one band
    (pigeonhole), so a per-band equi-join finds every true pair — no
    unbounded collect_list, no all-pairs scan.

    Plan (r10): the band explode CARRIES the 8-byte fingerprint, so
    the exact bit_count(xor) verify runs INLINE on the raw band-join
    output — no candidate distinct
    shuffle and no verify re-joins (measured at sf0.1: 277k raw
    candidates of which only 5k are band-duplicates, so the old
    distinct shuffled 272k narrow rows to save ~5k inline popcounts —
    exactly backwards for a nanosecond JVM filter). Survivors (true
    pairs x band-dup factor — hundreds) dedup in one tiny aggregate;
    band-duplicates of a pair carry bit-identical hamming, so
    min(hamming) is a pure dedup.

    ``base``: callers holding the persisted (id, simhash) frame for an
    IMMUTABLE corpus pass it in so repeated invocations skip the
    fingerprint pass (same contract as minhash_lsh_pairs' `base`:
    fingerprints are a pure function of (corpus, params)). The caller
    owns its cache; the result's rm_release_cache is then a no-op.
    """
    assert bands * band_bits <= nbits
    owns_base = base is None
    if owns_base:
        base = simhash_base(docs, text_col, id_col, nbits=nbits,
                            hash_mode=hash_mode).persist()
    else:
        _check_base_params(base, "simhash_pairs",
                           nbits=nbits, hash_mode=hash_mode)
    out = hamming_band_pairs(base, hash_col="simhash",
                             max_hamming=max_hamming, bands=bands,
                             band_bits=band_bits)
    out.rm_release_cache = base.unpersist if owns_base else (lambda: None)
    return out


def hamming_band_pairs(base: DataFrame, hash_col: str = "simhash",
                       id_col: str = "id", max_hamming: int = 3,
                       bands: int = 4, band_bits: int = 16) -> DataFrame:
    """Banded Hamming-distance pair join over any (id, 64-bit-or-less
    fingerprint) frame — the Manku et al. WWW'07 multi-table
    construction shared by simhash_pairs (text) and phash_pairs
    (image): any pair within Hamming distance ``max_hamming`` < bands
    agrees exactly on at least one ``band_bits``-bit band (pigeonhole),
    so a per-band equi-join finds every true pair with no all-pairs
    scan. The band explode CARRIES the 8-byte fingerprint so the exact
    bit_count(xor) verify runs INLINE on the raw band-join output (no
    candidate distinct shuffle — see simhash_pairs' measured argument);
    band-duplicate survivors dedup in one tiny aggregate."""
    mask = (1 << band_bits) - 1
    bandvals = base.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("_h"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftrightunsigned(F.col(hash_col), b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("bval"))
            for b in range(bands)])).alias("bb"),
    ).select("id", "_h",
             F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    # SHUFFLE_HASH: near-uniform (band, bval) buckets — see
    # minhash_lsh_pairs for the measured SMJ-sort argument
    a, b = bandvals.alias("a"), bandvals.alias("b").hint("shuffle_hash")
    return (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bval") == F.col("b.bval"),
                      F.col("a.id") < F.col("b.id")])
        .withColumn("hamming",
                    F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"), "hamming")
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def simhash_base(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", nbits: int = 64,
                 hash_mode: str = "xxhash64") -> DataFrame:
    """(id, simhash) fingerprint frame consumed by simhash_pairs — split
    out so callers over an immutable corpus can persist it once per
    session (the minhash_base contract). NOT persisted here;
    callers decide caching."""
    return _stamp_base_params(
        simhash(drop_blank_docs(docs, text_col), text_col, id_col,
                nbits=nbits, hash_mode=hash_mode).select(
            F.col(id_col).alias("id"), "simhash"),
        nbits=nbits, hash_mode=hash_mode)


# -------------------------------------------------------------- ngram jaccard

def prefix_filter_candidates(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", n: int = 1,
                             threshold_num: int = 1,
                             threshold_den: int = 2,
                             keys: tuple = ("source",),
                             length_col: str = None,
                             length_window: int = 0) -> DataFrame:
    """EXACT prefix-filter candidate join for set-similarity self-join
    (AllPairs, Bayardo et al. WWW 2007; PPJoin, Xiao et al. WWW 2008):
    under a global token order (corpus frequency asc, token asc), two
    docs with Jaccard >= t = threshold_num/threshold_den MUST share a
    token within each doc's first (|g| - ceil(t*|g|) + 1) ordered
    tokens — so joining on prefix tokens is a provably lossless
    candidate generator (recall 1; the exact Jaccard verify downstream
    makes precision irrelevant). Proof shape: if A∩B misses prefix(A),
    all of A∩B sits in A's last ceil(t|A|)-1 positions, so
    |A∩B| < t|A| <= t|A∪B|, contradicting J >= t; and the two per-set
    witnesses must coincide or one of them precedes the other into the
    other's prefix.

    Replaces the (source, length-bucket) candidate join whose volume is
    O(docs^2 / (sources x buckets)) — quadratic as the corpus grows at
    fixed doc-length distribution (measured: 27M candidates at the 10x
    stress). Prefix candidates scale with how often two docs share a
    RARE token: on Zipfian real-corpus vocabularies the frequency-asc
    order makes prefix buckets tiny (the published result); on the
    adversarial UNIFORM fixture vocab the pruning is a constant ~2.6x
    over the length-bucket join alone (97k vs 273k candidates at
    sf0.1, 6.5M vs 17M at the 10x pair-heavy stress), measured with
    the length window folded into the key. Skew-safe by
    construction — the hottest tokens are exactly the ones the
    frequency order pushes OUT of prefixes.

    Extra equi-keys (``keys``, e.g. same-source) join alongside the
    token; ``length_col``/``length_window`` adds the |Δlen| <= window
    predicate. ceil(t*|g|) is computed in exact integers — no double
    ratio. Output: distinct (id_a, id_b), id_a < id_b, a SUPERSET of
    all pairs with J >= t under the same key/length constraints."""
    from pyspark.sql import Window

    if length_col and length_window <= 0:
        raise ValueError(
            "prefix_filter_candidates: length_col set with "
            f"length_window={length_window} — the bucket divide would "
            "NULL every join key (or raise under ANSI) and silently "
            "return zero candidates; pass a positive window")
    num, den = int(threshold_num), int(threshold_den)
    extra = [length_col] if length_col else []
    grams = docs.select(
        F.col(id_col).alias("id"), *[F.col(k) for k in keys],
        *[F.col(c) for c in extra],
        F.array_distinct(_shingles(F.col(text_col), n)).alias("g"))
    tok = grams.select("id", *keys, *extra, F.size("g").alias("sz"),
                       F.explode("g").alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("_freq"))
    wdoc = Window.partitionBy("id").orderBy(F.col("_freq").asc(),
                                            F.col("w").asc())
    # prefix length p = sz - ceil(t*sz) + 1, exact integers
    ceil_t = (F.col("sz") * num + F.lit(den - 1)) / F.lit(den)
    p = F.col("sz") - F.floor(ceil_t).cast("long") + F.lit(1)
    pref = (tok.join(freq, "w")
            .withColumn("_rn", F.row_number().over(wdoc))
            .filter(F.col("_rn") <= p)
            .select("id", "w", *keys, *extra))
    join_keys = ["w", *keys]
    a_cols = [F.col("id").alias("id_a"), F.col("w"),
              *[F.col(k) for k in keys]]
    b_cols = [F.col("id").alias("id_b"), F.col("w"),
              *[F.col(k) for k in keys]]
    if length_col:
        # fold the length window into the JOIN KEY too (bucket by the
        # window width; probe side explodes to its own and adjacent
        # buckets, build side sits in one, so each qualifying pair
        # meets on exactly one (w, keys, lb) triple per shared prefix
        # token) — the intersection of both filters is strictly
        # smaller than either alone (measured 97k vs 273k candidates
        # at sf0.1, 6.5M vs 17M at the 10x stress)
        bkt = F.floor(F.col(length_col) / length_window)
        a_cols += [F.col(length_col).alias("_len_a"),
                   F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("lb")]
        b_cols += [F.col(length_col).alias("_len_b"), bkt.alias("lb")]
        join_keys.append("lb")
    a = pref.select(*a_cols)
    b = pref.select(*b_cols)
    cand = (a.join(b, join_keys)
            .filter(F.col("id_a") < F.col("id_b")))
    if length_col:
        cand = cand.filter(
            F.abs(F.col("_len_a") - F.col("_len_b")) <= length_window)
    return cand.select("id_a", "id_b").distinct()


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.3,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact word n-gram Jaccard between candidate pairs. Without a
    candidate frame, verifies the minhash-LSH candidates (never all-pairs:
    the quadratic join is gated behind LSH)."""
    if candidates is None:
        candidates = minhash_lsh_pairs(docs, text_col, id_col,
                                       jaccard_threshold=0.0)
    # the repartition below builds a NEW DataFrame object — capture the
    # upstream cache-release handle first so callers can still unpersist
    # the minhash signatures (else a long-lived session leaks the cache)
    release = getattr(candidates, "rm_release_cache", None)
    # spread the verify: candidate frames often arrive with the probe
    # side's input partitioning (a broadcast-join chain over one small
    # parquet file = ONE task), and the per-pair set math is the hot loop —
    # hash-spread the narrow id pairs so every core verifies. The explicit
    # partition count matters: without it AQE coalesces the ~MB-sized
    # shuffle back to one partition and the verify runs single-threaded.
    npart = candidates.sparkSession.sparkContext.defaultParallelism
    candidates = candidates.repartition(npart, F.col("id_a"), F.col("id_b"))
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(F.col(text_col), n)).alias("grams"),
    ).withColumn("sz", F.size("grams"))
    a = grams.alias("ga")
    b = grams.alias("gb")
    joined = (
        candidates.join(a, candidates.id_a == F.col("ga.id"))
        .join(b, candidates.id_b == F.col("gb.id"))
    )
    # |union| = |a| + |b| - |inter|: one array op per pair, not two —
    # array_intersect dominates the verify, so this halves the hot loop
    inter = F.size(F.array_intersect(F.col("ga.grams"), F.col("gb.grams")))
    union = F.col("ga.sz") + F.col("gb.sz") - inter
    jac = (inter.cast("double") / union.cast("double"))
    scored = joined.select("id_a", "id_b", jac.alias("jaccard"))
    # pushdown BARRIER: keep the threshold filter out of the join
    # condition — pushed there, array_intersect is re-evaluated per probe
    # during the match AND again in the projection (no cross-operator
    # CSE), a measured ~4x on the verify hot loop. The always-false
    # disjunct is nondeterministic-MARKED (so Catalyst cannot split or
    # push the Or) but value-deterministic: spark_partition_id() is always
    # >= 0, so the result never depends on partitioning. (rand() < -1
    # stopped working as a fence: pyspark 4.1 folds out-of-range rand
    # comparisons.) test_jaccard_threshold_stays_out_of_join guards this.
    out = scored.filter((F.col("jaccard") >= threshold)
                        | (F.spark_partition_id() < F.lit(0)))
    if release is not None:
        out.rm_release_cache = release
    return out


# -------------------------------------------------------------- components

def connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
                         nodes: DataFrame | None = None, node_col: str = "node",
                         max_iter: int = 25,
                         local_threshold: int = 2_000_000) -> DataFrame:
    """(node, component) labeling: component = MIN node id in the component.

    The grouping step that turns near-dup PAIRS into dedup GROUPS. Above
    `local_threshold` edges it runs the alternating large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log^2 n) rounds regardless of
    component diameter — a plain min-label propagation needs diameter
    rounds, which a 100M-doc boilerplate chain can make arbitrarily deep.

    Every round is two (groupBy-min + equi-join) passes — the per-node state
    is ONE bigint (its minimum neighbor), never a collect_list, so a hub
    node with 10M near-dups costs the same as a pair. Lineage is truncated
    per round with localCheckpoint (an iterative DataFrame loop otherwise
    compounds the plan until planning dominates); convergence is the direct
    star-forest test (no root appears as a child), so no confirm round.

    At or below `local_threshold` edges a driver union-find fast path runs
    instead — the same size-gated strategy switch as a broadcast join; the
    collect is bounded by the gate.

    Returns one row per node appearing in `edges` (plus every node of
    `nodes`, if given — isolated nodes label themselves).
    """
    e = (edges.select(F.col(src).cast("bigint").alias("u"),
                      F.col(dst).cast("bigint").alias("v"))
         .filter(F.col("u") != F.col("v")))
    # canonical orientation (max, min): the small-star input shape
    e = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")) \
         .distinct().localCheckpoint(eager=True)

    n_edges = e.count()
    if n_edges <= local_threshold:
        # SIZE-GATED fast path (same idea as Spark's broadcast threshold):
        # a <=2M-edge graph is <=~32 MB — union-find on the driver beats
        # ~5 distributed rounds x ~6 stages of scheduling + codegen. The
        # collect is bounded by the gate; past it, the distributed loop
        # below is the path. (LSH-gated near-dup graphs usually land here
        # even at huge corpus sizes: edges ~ dups, not docs^2.)
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in e.collect():
            ra, rb = find(row["u"]), find(row["v"])
            if ra != rb:
                if ra < rb:
                    ra, rb = rb, ra
                parent[ra] = rb  # attach larger root under smaller
        spark = edges.sparkSession
        labeled = spark.createDataFrame(
            [(int(x), int(find(x))) for x in parent] +
            [(int(r), int(r)) for r in set(map(find, parent))],
            f"{node_col} bigint, component bigint").dropDuplicates([node_col])
    else:
        def _is_star_forest(df) -> bool:
            # fixpoint test: no root (v) is also a child (u) — directly the
            # semantic goal, no confirm round needed
            return (df.select("v").join(df.select(F.col("u").alias("v")),
                                        "v", "leftsemi").isEmpty())

        for _ in range(max_iter):
            # LARGE-STAR: over the symmetric neighborhood, attach every
            # strictly-larger neighbor v of u to m = min(N(u) + {u})
            sym = e.unionByName(e.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
            mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                    .select("u", F.least("u", "mv").alias("m")))
            e = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
            # SMALL-STAR: edges oriented (u > v); attach u and all its
            # smaller neighbors to m = min(N(u)); nothing for v == m
            mins = e.groupBy("u").agg(F.min("v").alias("m"))
            e = (e.join(mins, "u")
                 .filter(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(mins.select("u", F.col("m").alias("v")))
                 .select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
                 .distinct()
                 .localCheckpoint(eager=True))
            if _is_star_forest(e):
                break
        # fixpoint edges are stars (node -> root): label both endpoints
        labeled = (e.select(F.col("u").alias(node_col),
                            F.col("v").alias("component"))
                   .unionByName(e.select(F.col("v").alias(node_col),
                                         F.col("v").alias("component")))
                   .groupBy(node_col).agg(F.min("component").alias("component")))
    if nodes is not None:
        allnodes = nodes.select(F.col(node_col).cast("bigint").alias(node_col)).distinct()
        labeled = (allnodes.join(labeled, on=node_col, how="left")
                   .select(node_col,
                           F.coalesce("component", F.col(node_col)).alias("component")))
    return labeled


def dedup_groups(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup GROUP labeling for every document: connected components over
    a near-dup pair frame (minhash/simhash/jaccard/cosine output), keeping
    the lowest doc id as the group representative."""
    comp = connected_components(
        pairs, src="id_a", dst="id_b",
        nodes=docs.select(F.col(id_col).alias("node")), node_col="node")
    return comp.select(F.col("node").alias(id_col), "component")


def rate_report(groups: DataFrame, docs: DataFrame,
                id_col: str = "doc_id",
                source_col: str = "source") -> DataFrame:
    """Per-source duplication telemetry over a (id, component) group
    frame: document count, documents sitting in a multi-member group,
    and distinct groups — all exact BIGINTs (ratios are the reader's
    division; no float in a gate). One component-size aggregate + one
    per-source rollup; every output past the group labeling is
    bounded. Shared by the dedup_rate_report entry and its unit test
    (one implementation, r13 second review)."""
    sizes = (groups.groupBy("component")
             .agg(F.count(F.lit(1)).alias("_rm_sz")))
    return (groups.join(sizes, "component")
            .join(docs.select(id_col, source_col), id_col)
            .groupBy(source_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("_rm_sz") > 1, 1).otherwise(0))
                 .cast("long").alias("n_dup_docs"),
                 F.countDistinct("component").alias("n_groups")))


def keep_best(groups: DataFrame, scored: DataFrame,
              id_col: str = "doc_id",
              component_col: str = "component",
              score_col: str = "score_micro") -> DataFrame:
    """Quality-aware canonicalization of near-dup groups: from each
    duplicate component keep the member with the HIGHEST quality score
    (ties broken by lowest id) instead of the arbitrary min-id
    representative — the production dedup ending: near-dups waste
    tokens, so keep the best-written copy, not the first-crawled one.

    ``groups`` is a (id, component) frame (dedup_groups output);
    ``scored`` carries (id, score). The join is INNER: a member absent
    from ``scored`` (e.g. zero-token docs, which NB scoring skips)
    cannot win and is not counted in ``n_members`` — document-level
    presence filters belong upstream.

    Scale shape: one equi-join on the id (both sides already carry it;
    near-dup components are tiny so the per-component window after one
    shuffle on the component key is skew-safe — AQE splits a
    pathological hub), then a map filter. Both window functions share
    the (component) partition key and one sort, so the plan carries a
    single exchange for the ranking step.

    Output: (id_col, component_col, score_col, n_members) — one row
    per component, n_members = scored members of that component."""
    j = (groups.select(id_col, component_col)
         .join(scored.select(id_col, score_col), id_col))
    from pyspark.sql import Window
    wc = Window.partitionBy(component_col)
    wr = wc.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (j.withColumn("n_members", F.count(F.lit(1)).over(wc)
                         .cast("long"))
            .withColumn("_rm_kb_rn", F.row_number().over(wr))
            .filter(F.col("_rm_kb_rn") == 1)
            .drop("_rm_kb_rn")
            .select(id_col, component_col, score_col, "n_members"))


# -------------------------------------------------------------- embedding cosine

def sign_lsh_base(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", bands: int = 64,
                  planes_per_band: int = 8, sketch_planes: int = 512,
                  seed: int = 42) -> DataFrame:
    """(id, bb, wd) frame: per-row banded sign-LSH signatures `bb`
    (`bands` ints of `planes_per_band` hyperplane sign bits each) plus a
    `sketch_planes`-bit packed sign sketch `wd` (bigint words), computed in
    ONE Arrow-batched pass over the vectors. Shared by the persisted
    sign-LSH index (build, append, probe) and the candidate-volume
    instrumentation in tests; NOT persisted — callers decide caching."""
    from pyspark.sql.functions import pandas_udf

    nplanes = bands * planes_per_band
    assert sketch_planes % 64 == 0
    total_planes = max(nplanes, sketch_planes)
    nwords = sketch_planes // 64

    # Signature + sketch in ONE Arrow-batched pandas UDF: the plane dots are
    # a (batch x dim) @ (dim x planes) matmul — dense linear algebra that
    # Catalyst higher-order functions can only run as interpreted per-element
    # lambdas (~60x slower measured), i.e. the documented "genuinely can't
    # express it" case for a vectorized UDF. Hyperplanes are Uniform(-0.5,
    # 0.5) from a seeded numpy Generator — deterministic, built lazily from
    # the batch's dim, no driver-side collect. Closure is self-contained
    # (ships by value; executors never import radmapper_spark).
    b_, r_, sk_, tp_, seed_ = bands, planes_per_band, sketch_planes, total_planes, seed

    def sig_sketch(s):
        import numpy as np
        import pandas as pd
        if len(s) == 0:
            return pd.Series([], dtype=object)
        M = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        W = np.random.default_rng(seed_).uniform(-0.5, 0.5, (tp_, M.shape[1]))
        bits = (M @ W.T) >= 0.0  # (n, total_planes)
        # band sigs: r_ consecutive plane bits per band, MSB first —
        # packed as ONE reshape+matmul (the b_*r_ shift-or loop was
        # 1536 tiny numpy calls per batch at b=192 and dominated the
        # signature pass)
        wts = (np.int64(1) << np.arange(r_ - 1, -1, -1, dtype=np.int64))
        sig = bits[:, :b_ * r_].reshape(len(s), b_, r_).astype(np.int64) @ wts
        # sketch words: 64 consecutive plane bits per word, wrapped to int64
        packed = np.packbits(bits[:, :sk_], axis=1, bitorder="big")
        words = (packed.reshape(len(s), sk_ // 64, 8)
                 .astype(np.uint64) @ (np.uint64(256) **
                                       np.arange(7, -1, -1, dtype=np.uint64))
                 ).astype(np.int64)
        return pd.Series([np.concatenate([sig[i], words[i]]).tolist()
                          for i in range(len(s))])

    import pandas as _pd
    sig_sketch.__annotations__ = {"s": _pd.Series, "return": _pd.Series}
    sig_udf = pandas_udf(sig_sketch, "array<bigint>")

    # Parallelism floor (r10): a small fixture corpus arrives as ONE
    # parquet file -> one partition -> the whole Arrow signature pass on
    # a single Python worker (measured 1.9-2.3 s serial vs 0.5 s at 16
    # partitions, sf0.1). Signatures are per-row deterministic (each
    # batch rebuilds the same seeded hyperplanes), so repartitioning
    # never changes a bit. At scale the input has >= cluster-parallelism
    # partitions and this is a no-op — no shuffle is added at 100 TB.
    par = emb.sparkSession.sparkContext.defaultParallelism
    if emb.rdd.getNumPartitions() < min(par, 16):
        emb = emb.repartition(min(par, 16))

    return (emb.select(F.col(id_col).alias("id"),
                       sig_udf(F.col(vec_col)).alias("sg"))
            .select("id",
                    F.slice("sg", 1, bands).alias("bb"),
                    F.slice("sg", bands + 1, nwords).alias("wd")))


def _sketch_screen(wd_a, wd_b, threshold: float, sketch_planes: int):
    """Popcount prefilter on two packed sign sketches (bigint-word array
    columns): True where the estimated sign agreement clears
    p_t - 4.5 sigma, p_t the agreement a pair at exactly `threshold`
    cosine has in expectation. At threshold 0.45 with 512 planes this
    kills ~99.5% of random candidates while a true pair's miss
    probability stays ~3e-6. The word count is static, so the popcount
    sum is UNROLLED into flat bit_count terms — whole-stage-codegen-able,
    unlike an aggregate() lambda."""
    import math

    p_t = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    margin = 4.5 * math.sqrt(p_t * (1.0 - p_t) / sketch_planes)
    disagree = sum(
        (F.bit_count(F.element_at(wd_a, w + 1)
                     .bitwiseXOR(F.element_at(wd_b, w + 1)))
         for w in range(sketch_planes // 64)),
        F.lit(0))
    est_p = (F.lit(sketch_planes) - disagree) / F.lit(float(sketch_planes))
    return est_p >= F.lit(p_t - margin)


def cosine_verify(pairs: DataFrame, va: str, vb: str,
                  threshold: float = None) -> DataFrame:
    """Exact cosine of GIVEN candidate pairs: the embedding family's
    kernel for that shape (neardup_embedding_vs_index,
    similarity.semantic_dedup_pairs, and the ivf_topk, pq_topk and
    search_ivf_index rescoring). Dense all-pairs products go through
    its twin, cosine_join.

    `pairs` carries two array<float|double> vector columns `va` and `vb`;
    every other column is a key passed through with its input type.
    Returns the keys plus an UNROUNDED `cosine` double for each pair whose
    cosine is >= `threshold`, or for every pair when it is None (the
    filter runs on the unrounded value, as in the oracles; callers round
    for output). A pair with a NULL vector
    or two vectors of different lengths is dropped — operators that must
    reject such input do so upstream (sign_lsh_base raises on it, and
    so does cosine_join).

    One mapInArrow kernel: a list column is ONE flat values buffer plus
    offsets, so each (m, dim) matrix is a single vectorized gather (the
    pandas form np.stack'ed a per-cell object array row by row, ~µs/row,
    the dominant slice at sf1's 20M+ candidates). Vectors cross Arrow in
    their storage type and widen to double inside the kernel: float ->
    double is exact, so the einsum sees the same doubles a JVM-side cast
    would produce at half the boundary bytes. The closure captures only
    strings and a float, so it ships by value to executors that cannot
    import this module."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    keys = [c for c in pairs.columns if c not in (va, vb)]
    schema = StructType(
        [StructField(k, pairs.schema[k].dataType) for k in keys]
        + [StructField("cosine", DoubleType())])
    thr = None if threshold is None else float(threshold)

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa

        def _flat(col, null_len):
            offs = col.offsets.to_numpy(
                zero_copy_only=False).astype(np.int64)
            vals = np.asarray(col.values.to_numpy(zero_copy_only=False),
                              dtype=np.float64)
            lens = np.diff(offs)
            if col.null_count:
                lens = np.where(col.is_null().to_numpy(zero_copy_only=False),
                                null_len, lens)
            return offs[:-1], vals, lens

        for rb in batches:
            cols = dict(zip(rb.schema.names, rb.columns))
            # NULL sentinels -1 vs -2 never match, so a NULL vector fails
            # the same length check as a dim mismatch
            oa, fa, la = _flat(cols[va], -1)
            ob, fb, lb = _flat(cols[vb], -2)
            valid = la == lb
            # a batch mixes dims only via dirty input; one gather per dim
            for dim in np.unique(la[valid]):
                rows = np.flatnonzero(valid & (la == dim))
                span = np.arange(int(dim))
                a = fa[oa[rows][:, None] + span]
                b = fb[ob[rows][:, None] + span]
                cosv = np.einsum("ij,ij->i", a, b) / (
                    np.sqrt(np.einsum("ij,ij->i", a, a))
                    * np.sqrt(np.einsum("ij,ij->i", b, b)))
                keep = (np.ones(len(cosv), dtype=bool) if thr is None
                        else cosv >= thr)
                take = pa.array(rows[keep])
                yield pa.RecordBatch.from_arrays(
                    [cols[k].take(take) for k in keys]
                    + [pa.array(cosv[keep], type=pa.float64())],
                    names=keys + ["cosine"])

    return pairs.mapInArrow(_kernel, schema)


# rows per side of one GEMM tile in cosine_join: no score matrix passes
# _TILE x _TILE doubles (32 MiB)
_TILE = 2048


def cosine_join(left: DataFrame, right: DataFrame = None,
                threshold: float = None) -> DataFrame:
    """Exact cosine over every (left, right) row pair: the ONE
    dense-product kernel of the embedding family (embedding_cosine_pairs,
    similarity.brute_force_topk / range_search,
    decontam.embedding_decontam). Given candidate pairs go through its
    twin, cosine_verify.

    `left` and `right` are (id, vector) frames: the first column is the
    id (any type, passed through), the second an array<float|double>
    vector. Returns (id_a, id_b, cosine), id_a from `left` and id_b from
    `right`, with the UNROUNDED cosine; with a `threshold`, only pairs at
    or above it (the filter runs on the unrounded value, as in the
    oracles; callers round for output). `right` is the small side (the
    queries, the benchmark set): its blocks are broadcast. `right=None`
    is the self-join of `left`: each unordered pair once, as
    id_a < id_b, no self pair.

    Plan: each side is cut into B = defaultParallelism hash blocks of
    its (id, vector) rows, one collect_list row per block; block pairs
    are joined (i <= j for the self-join) and spread round-robin over B
    tasks. One mapInArrow pass per block pair normalises both blocks in
    float64, takes the GEMM in tiles of at most _TILE x _TILE scores
    and emits the survivors. Construction runs no job. A task holds its
    two blocks whole, so its working set grows as n / B.

    A NULL vector, or vectors of different lengths, raise (inside the
    task) instead of being dropped: there is no cosine for them, and a
    silent drop would lose pairs. The closure captures only plain
    values, so it ships by value to executors that cannot import this
    module."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    self_join = right is None
    right = left if self_join else right
    nblk = left.sparkSession.sparkContext.defaultParallelism

    def blocks(side, tag):
        i, v = side.columns[:2]
        return (side.select(
            F.pmod(F.xxhash64(i), F.lit(nblk)).alias("b" + tag),
            F.struct(F.col(i).alias("i"), F.col(v).alias("v")).alias("r"))
            .groupBy("b" + tag).agg(F.collect_list("r").alias("r" + tag)))

    a, b = blocks(left, "a"), blocks(right, "b")
    pairs = a.join(b, F.col("ba") <= F.col("bb")) if self_join \
        else a.crossJoin(F.broadcast(b))
    # B tasks, not one per block pair: each Arrow task pays a fixed
    # ~0.1 s of Python worker cost. The number is explicit because AQE
    # would coalesce the few block rows into one task and serialise
    # every GEMM.
    pairs = pairs.repartition(nblk)
    schema = StructType([
        StructField("id_a", left.schema[0].dataType),
        StructField("id_b", right.schema[0].dataType),
        StructField("cosine", DoubleType())])
    thr, tile = None if threshold is None else float(threshold), _TILE

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def unit(rows):
            ids, vec = rows.flatten()
            # a NULL vector's length is NaN, so it fails this check too
            lens = vec.value_lengths().to_numpy(zero_copy_only=False)
            if (lens != lens[0]).any():
                raise ValueError("cosine_join: NULL or ragged vectors, "
                                 f"lengths {sorted(set(lens.tolist()))}")
            m = np.asarray(vec.flatten().to_numpy(zero_copy_only=False),
                           dtype=np.float64).reshape(len(vec), int(lens[0]))
            return ids, m / np.linalg.norm(m, axis=1, keepdims=True)

        for rb in batches:
            cols = dict(zip(rb.schema.names, rb.columns))
            for r in range(rb.num_rows):
                ia, ma = unit(cols["ra"][r].values)
                diag = self_join and \
                    cols["ba"][r].as_py() == cols["bb"][r].as_py()
                ib, mb = (ia, ma) if diag else unit(cols["rb"][r].values)
                if ma.shape[1] != mb.shape[1]:
                    raise ValueError("cosine_join: ragged vectors, lengths "
                                     f"{ma.shape[1]} and {mb.shape[1]}")
                for i0 in range(0, len(ma), tile):
                    for j0 in range(i0 if diag else 0, len(mb), tile):
                        s = ma[i0:i0 + tile] @ mb[j0:j0 + tile].T
                        keep = (np.ones(s.shape, dtype=bool) if thr is None
                                else s >= thr)
                        if diag and i0 == j0:
                            keep = np.triu(keep, 1)
                        ri, cj = np.nonzero(keep)
                        xa = ia.take(pa.array(ri + i0))
                        xb = ib.take(pa.array(cj + j0))
                        out = [xa, xb, pa.array(s[ri, cj], type=pa.float64())]
                        if self_join:
                            swap = pc.greater(xa, xb)
                            out[:2] = pc.if_else(swap, xb, xa), \
                                pc.if_else(swap, xa, xb)
                        batch = pa.RecordBatch.from_arrays(
                            out, names=["id_a", "id_b", "cosine"])
                        # a repeated id meets itself in its own block
                        yield batch.filter(pc.not_equal(*out[:2])) \
                            if self_join else batch

    return pairs.mapInArrow(_kernel, schema)


def embedding_cosine_pairs(emb: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.45) -> DataFrame:
    """Near-duplicate pairs by exact embedding cosine: (id_a, id_b,
    cosine) for every pair with id_a < id_b whose UNROUNDED cosine is
    >= `threshold` — the cosine_join self-join of the (id, vector)
    rows, with no candidate stage and no recall parameter. A NULL or
    ragged vector raises. The result carries a no-op
    ``rm_release_cache`` (nothing is persisted), so callers release it
    like the other pair operators."""
    out = cosine_join(emb.select(id_col, vec_col), threshold=threshold)
    out.rm_release_cache = lambda: None
    return out


# -------------------------------------------------------- fuzzy string join

def fuzzy_pairs_levenshtein(df: DataFrame, col: str,
                            max_dist: int = 1) -> DataFrame:
    """All DISTINCT value pairs within Levenshtein distance 1 (FastSS /
    deletion-neighborhood banding): each string emits itself plus every
    single-character deletion as signatures; any two strings at edit
    distance <= 1 share at least one signature (substitution: delete the
    differing position from both; insertion/deletion: the shorter string
    IS a deletion of the longer; equality excluded by a < b). COMPLETE
    for d=1 — the verify filter never loses a true pair. Candidate
    volume is a bucketed equi-join on signatures (strings sharing a
    deletion), never all-pairs; the exact levenshtein runs only on
    candidates. Only max_dist=1 is supported (higher d needs the
    multi-deletion neighborhood, which grows combinatorially — chain
    this operator or use ngram_jaccard_pairs for looser matching)."""
    if max_dist != 1:
        raise ValueError("fuzzy_pairs_levenshtein supports max_dist=1 "
                         "(deletion-neighborhood banding is complete "
                         "exactly for d=1)")
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull()) \
        .distinct()
    n = F.length("v")
    sigs = F.concat(
        F.array(F.col("v")),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(F.col("v").substr(F.lit(1), i - 1),
                               F.col("v").substr(i + 1, n))))
    exploded = vals.select("v", F.explode(sigs).alias("sig"))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (a.join(b, (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.v") < F.col("b.v")))
            .select(F.col("a.v").alias("name_a"),
                    F.col("b.v").alias("name_b"))
            .distinct())
    return (cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
            .filter(F.col("dist") <= max_dist)
            .select("name_a", "name_b", "dist"))


# ----------------------------------------------- persisted minhash index

def build_minhash_index(docs: DataFrame, path: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 32, bands: int = 8,
                        shingle_k: int = 5,
                        hash_mode: str = "xxhash64") -> None:
    """Persist the corpus's banded minhash index: one parquet table
    partitioned by band, rows (band, bhash, id, minhash). Incremental
    near-dup (below) probes it WITHOUT touching the corpus text — the
    at-scale shape for a growing corpus: signature extraction is paid
    once per document ever, and a probe batch shuffles only its own
    signatures. Build params (num_hashes, bands, shingle_k, hash_mode)
    are persisted in a ``_meta`` sidecar; probes assert them and RAISE
    on mismatch (index_meta.check_index_meta).
    """
    from .index_meta import write_index_meta

    sigs = minhash_base(docs, text_col, id_col, num_hashes, shingle_k,
                        hash_mode=hash_mode)
    minhash_bands(sigs, num_hashes, bands, hash_mode) \
        .write.mode("overwrite").partitionBy("band").parquet(path)
    write_index_meta(docs.sparkSession, path, "minhash",
                     {"num_hashes": num_hashes, "bands": bands,
                      "shingle_k": shingle_k, "hash_mode": hash_mode})


def append_to_minhash_index(new_docs: DataFrame, path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            num_hashes: int = 32, bands: int = 8,
                            shingle_k: int = 5,
                            hash_mode: str = "xxhash64") -> None:
    """ADMIT a batch into the persisted minhash index: append the
    batch's (band, bhash, id, minhash) rows into the band partitions —
    the write-side half of the incremental-admission loop (probe asks
    "seen before?", append makes the batch visible to every future
    probe). Only the batch's signatures are computed; the existing index
    is never rewritten (parquet append into hive band partitions).
    Params are asserted against the index's ``_meta`` sidecar — an
    append in the wrong hash family would poison the index, so it
    raises IndexParamMismatch instead."""
    from .index_meta import check_index_meta

    check_index_meta(new_docs.sparkSession, path, "minhash",
                     {"num_hashes": num_hashes, "bands": bands,
                      "shingle_k": shingle_k, "hash_mode": hash_mode},
                     "append_to_minhash_index")
    sigs = minhash_base(new_docs, text_col, id_col, num_hashes, shingle_k,
                        hash_mode=hash_mode)
    minhash_bands(sigs, num_hashes, bands, hash_mode) \
        .write.mode("append").partitionBy("band").parquet(path)


def neardup_vs_index(new_docs: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_hashes: int = 32, bands: int = 8,
                     shingle_k: int = 5,
                     jaccard_threshold: float = 0.5,
                     hash_mode: str = "xxhash64") -> DataFrame:
    """Probe a persisted minhash index with a batch of NEW documents:
    returns (new_id, index_id, est_jaccard) for every new doc that
    near-duplicates an indexed one. The probe computes signatures for
    the batch only, equi-joins the index on (band, bhash) — partition
    pruning keeps the scan to matching band dirs; the index text is
    never read — and verifies on the stored signatures. Estimated
    jaccard is identical to the batch operator's (same signature family).
    Raises IndexParamMismatch when (num_hashes, bands, shingle_k,
    hash_mode) disagree with the index's persisted ``_meta`` sidecar.
    """
    from .index_meta import check_index_meta

    spark = new_docs.sparkSession
    check_index_meta(spark, path, "minhash",
                     {"num_hashes": num_hashes, "bands": bands,
                      "shingle_k": shingle_k, "hash_mode": hash_mode},
                     "neardup_vs_index")
    idx = spark.read.parquet(path)
    sigs = minhash_base(new_docs, text_col, id_col, num_hashes, shingle_k,
                        hash_mode=hash_mode)
    probes = minhash_bands(sigs, num_hashes, bands, hash_mode).select(
        F.col("id").alias("new_id"), F.col("minhash").alias("mh_new"),
        "band", "bhash")
    cand = (probes.join(idx, on=["band", "bhash"])
            .select("new_id", F.col("id").alias("index_id"),
                    "mh_new", "minhash")
            .dropDuplicates(["new_id", "index_id"]))
    return (cand.withColumn("est_jaccard",
                            _est_jaccard("mh_new", "minhash", num_hashes))
            .filter(F.col("est_jaccard") >= jaccard_threshold)
            .select("new_id", "index_id", "est_jaccard"))


# ------------------------------------------- persisted sign-LSH index

def build_signlsh_index(emb: DataFrame, path: str,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        bands: int = 192, planes_per_band: int = 8,
                        sketch_planes: int = 512, seed: int = 42) -> None:
    """Persist the corpus's banded sign-LSH embedding index — the
    embedding twin of build_minhash_index, for INCREMENTAL near-dup over
    a growing vector corpus: signature extraction is paid once per
    vector ever; a probe batch (below) computes signatures for itself
    only and never re-reads the corpus table.

    Two tables under `path`:

    - ``bands/``   (band, sig, id)            — the candidate equi-join side
    - ``vectors/`` (id, wd bigint[], v double[]) — sketch words for the
      popcount prefilter + the exact vector for the cosine verify, so the
      probe is SELF-CONTAINED against the index

    Probe with the SAME (bands, planes_per_band, sketch_planes, seed):
    hyperplanes are a pure function of (seed, dim), so index and probe
    signatures live in the same LSH family by construction. Build params
    are persisted in a ``_meta`` sidecar; probes assert them and RAISE
    on mismatch (index_meta.check_index_meta).
    """
    from .index_meta import write_index_meta

    params = {"bands": bands, "planes_per_band": planes_per_band,
              "sketch_planes": sketch_planes, "seed": seed}
    _write_signlsh(emb, path, vec_col, id_col, params, "overwrite")
    write_index_meta(emb.sparkSession, path, "signlsh", params)


def _write_signlsh(emb: DataFrame, path: str, vec_col: str, id_col: str,
                   params: dict, mode: str) -> None:
    """Write `emb`'s rows into the ``bands``/``vectors`` tables of the
    sign-LSH index at `path` with Spark write mode `mode` ("overwrite" to
    build, "append" to admit)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = sign_lsh_base(emb, vec_col, id_col, **params).persist()
    (base.select("id", F.posexplode("bb").alias("band", "sig"))
     .select("band", "sig", "id")
     .write.mode(mode).parquet(f"{path}/bands"))
    (base.select("id", "wd")
     .join(emb.select(F.col(id_col).alias("id"), vec.alias("v")), "id")
     .write.mode(mode).parquet(f"{path}/vectors"))
    base.unpersist()


def append_to_signlsh_index(new_emb: DataFrame, path: str,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            bands: int = 192, planes_per_band: int = 8,
                            sketch_planes: int = 512,
                            seed: int = 42) -> None:
    """ADMIT a vector batch into the persisted sign-LSH index — the
    embedding twin of append_to_minhash_index: signatures + sketch are
    computed for the batch only and appended to the ``bands``/
    ``vectors`` tables; params are asserted against the ``_meta``
    sidecar (wrong-family appends would poison the index — raises)."""
    from .index_meta import check_index_meta

    params = {"bands": bands, "planes_per_band": planes_per_band,
              "sketch_planes": sketch_planes, "seed": seed}
    check_index_meta(new_emb.sparkSession, path, "signlsh", params,
                     "append_to_signlsh_index")
    _write_signlsh(new_emb, path, vec_col, id_col, params, "append")


def neardup_embedding_vs_index(new_emb: DataFrame, path: str,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               threshold: float = 0.45,
                               bands: int = 192, planes_per_band: int = 8,
                               sketch_planes: int = 512,
                               seed: int = 42) -> DataFrame:
    """Probe a persisted sign-LSH index with a batch of NEW vectors:
    (new_id, index_id, cosine) for every new vector whose cosine against
    an indexed one clears `threshold`. Cosines come from cosine_verify
    (float64 dot over the norm product).

    Plan: probe signatures+sketch in one Arrow pass over the BATCH only
    -> equi-join the persisted bands table on (band, sig) -> dedupe
    (new_id, index_id) -> join the index vectors table (brings the
    corpus-side sketch words AND vector; the corpus table itself is
    never read) -> inline popcount prefilter (_sketch_screen) -> exact
    cosine verify on survivors (cosine_verify).

    Raises IndexParamMismatch when (bands, planes_per_band,
    sketch_planes, seed) disagree with the index's ``_meta`` sidecar.
    Id columns keep their input types (any equality-joinable type
    works); the probe side is broadcast into the verify join only while
    its plan-estimated size stays under ``rm.broadcastMaxBytes``
    (default 256 MiB; plan_stats.broadcast_gate) — a huge probe batch
    falls back to a shuffled join instead of OOMing. The chosen path is
    exposed as ``result.rm_broadcast_path``.
    """
    from .index_meta import check_index_meta

    spark = new_emb.sparkSession
    check_index_meta(spark, path, "signlsh",
                     {"bands": bands, "planes_per_band": planes_per_band,
                      "sketch_planes": sketch_planes, "seed": seed},
                     "neardup_embedding_vs_index")
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    probe_base = sign_lsh_base(new_emb, vec_col, id_col, bands,
                               planes_per_band, sketch_planes,
                               seed).persist()
    probes = (probe_base
              .select("id", F.posexplode("bb").alias("band", "sig"))
              .select(F.col("id").alias("new_id"), "band", "sig"))
    idx_bands = spark.read.parquet(f"{path}/bands")
    cand = (probes.join(idx_bands.hint("shuffle_hash"), on=["band", "sig"])
            .select("new_id", F.col("id").alias("index_id"))
            .dropDuplicates(["new_id", "index_id"]))
    # corpus side: sketch words + exact vector from the index only
    idx_vec = spark.read.parquet(f"{path}/vectors").select(
        F.col("id").alias("index_id"), F.col("wd").alias("wd_i"),
        F.col("v").alias("v_b"))
    probe_side = (probe_base.select(F.col("id").alias("new_id"),
                                    F.col("wd").alias("wd_n"))
                  .join(new_emb.select(F.col(id_col).alias("new_id"),
                                       vec.alias("v_a")), "new_id"))
    # broadcast the probe batch only while the optimizer's size estimate
    # says it fits; an unboundedly large batch (the operator is exposed
    # to arbitrary tables via $probeEmbeddingIndex) falls back to a
    # shuffled hash join instead of OOMing the broadcast.
    # Size a SINGLE relation, not probe_side: probe_side is an inner
    # join, and Catalyst's size-only estimate for a join is the PRODUCT
    # of the child sizes — comparing that against the cap inverts the
    # gate (mid-size batches overflow the product and lose the
    # broadcast). new_emb's (id, vector) projection carries the
    # dominant width of the probe batch (the vector; the wd sketch
    # words the join adds are a few dozen bytes/row next to it), so its
    # estimate is the honest per-batch size. An UNKNOWN size (local,
    # RDD-backed and streaming micro-batch frames carry no stats) keeps
    # the broadcast: probe batches are small by contract, and the gate
    # exists for the pathological huge batch, which only arises from
    # stats-bearing scans.
    est = est_plan_bytes(new_emb.select(F.col(id_col), vec.alias("v_a")))
    use_bc = broadcast_gate(spark, est, if_unknown=True)
    p_in = (F.broadcast(probe_side) if use_bc
            else probe_side.hint("shuffle_hash"))
    out = cosine_verify(
        cand.join(idx_vec, "index_id").join(p_in, "new_id")
        .filter(_sketch_screen(F.col("wd_n"), F.col("wd_i"), threshold,
                               sketch_planes))
        .select("new_id", "index_id", "v_a", "v_b"),
        "v_a", "v_b", threshold)
    out.rm_release_cache = probe_base.unpersist
    out.rm_broadcast_path = use_bc
    return out


def _swap_index_dir(path: str, tmp: str) -> None:
    """Crash-safe local-FS directory swap for index compaction: rename
    the live index aside (``path__old``), move the compacted copy into
    place, then delete the old copy — the index exists under its
    canonical path at every instant except the gap between the two
    renames, and a failure moving the new copy in restores the old one.
    (The previous delete-then-move ordering lost the index entirely on a
    crash between the two calls.) Debris from a prior completed swap
    (``path__old`` left by a crash during its final cleanup) is removed
    first."""
    import shutil

    old = path.rstrip("/") + "__old"
    if _os.path.exists(old):
        shutil.rmtree(old)
    _os.rename(path, old)
    try:
        shutil.move(tmp, path)
    except Exception:
        _os.rename(old, path)  # restore the live index before failing
        raise
    shutil.rmtree(old)


def _compacted_kind(meta: dict, path: str) -> str:
    """The sidecar's ``kind``, failing loudly on a corrupt sidecar (a
    _meta that exists but lacks 'kind' would otherwise KeyError with no
    context, or worse get re-written without its kind tag)."""
    from .index_meta import IndexParamMismatch

    if "kind" not in meta:
        raise IndexParamMismatch(
            f"index at {path} has a _meta sidecar without a 'kind' "
            f"field — the sidecar is corrupt; rebuild the index rather "
            f"than compacting it.")
    return meta["kind"]


def compact_minhash_index(spark, path: str) -> int:
    """Out-of-band maintenance for an append-mode minhash index:
    replayed micro-batches (see start_neardup_admission's restart
    caveat) append byte-identical (band, bhash, id, minhash) rows, which
    cost storage and candidate-join width but never correctness. This
    rewrites the index with exact duplicates dropped — one distinct
    shuffle keyed like the index itself — into a temp sibling dir, then
    swaps it in via rename-aside (_swap_index_dir: the live index is
    never deleted before its replacement is in place; a cluster
    deployment swaps through the filesystem API in the same out-of-band
    window that owns index builds — probes in flight during the swap
    are the caller's exclusion to manage, exactly as for a rebuild).
    The ``_meta`` sidecar is preserved. Returns rows removed."""
    from .index_meta import read_index_meta, write_index_meta

    meta = read_index_meta(spark, path)
    kind = None if meta is None else _compacted_kind(meta, path)
    idx = spark.read.parquet(path)
    before = idx.count()
    tmp = path.rstrip("/") + "__compact"
    (idx.dropDuplicates(["band", "bhash", "id"])
     .write.mode("overwrite").partitionBy("band").parquet(tmp))
    after = spark.read.parquet(tmp).count()
    _swap_index_dir(path, tmp)
    if meta is not None:
        params = {k: v for k, v in meta.items() if k != "kind"}
        write_index_meta(spark, path, kind, params)
    return int(before - after)


def compact_signlsh_index(spark, path: str) -> int:
    """Sign-LSH twin of compact_minhash_index: drops exact duplicate
    rows from BOTH index tables (``bands`` on (band, sig, id);
    ``vectors`` on id — replayed appends write byte-identical rows, so
    any surviving row is the original). Stage-then-rename-aside swap per
    table (_swap_index_dir); ``_meta`` preserved. Returns total rows
    removed."""
    from .index_meta import read_index_meta, write_index_meta

    meta = read_index_meta(spark, path)
    kind = None if meta is None else _compacted_kind(meta, path)
    removed = 0
    for sub, keys in (("bands", ["band", "sig", "id"]),
                      ("vectors", ["id"])):
        t = f"{path}/{sub}"
        df = spark.read.parquet(t)
        before = df.count()
        tmp = t + "__compact"
        df.dropDuplicates(keys).write.mode("overwrite").parquet(tmp)
        removed += before - spark.read.parquet(tmp).count()
        _swap_index_dir(t, tmp)
    if meta is not None:
        params = {k: v for k, v in meta.items() if k != "kind"}
        write_index_meta(spark, path, kind, params)
    return int(removed)


# -------------------------------------------------- repeated span pairs

def _span_window_kernel(k: int, emit_offsets: bool):
    """Factory for the Arrow span-window kernel shared by
    repeated_span_pairs (distinct spans per doc) and
    substring_removal_spans (every occurrence with its [start, end)
    code-point interval). ONE implementation of the offset arithmetic
    — the Catalyst expression form and both DuckDB oracles mirror it,
    so a fix applied to a second copy could silently diverge the two
    operators (r10 self-review finding). The returned closure is
    self-contained (captures only ints; pandas imported inside) so it
    ships by value to executors that cannot import this module."""
    def _kernel(batches):
        import pandas as pd
        for pdf in batches:
            ids, spans_, st_, en_ = [], [], [], []
            for i, tk in zip(pdf["id"].to_numpy(), pdf["toks"]):
                tl = list(tk)
                t_ = len(tl)
                if t_ < k:
                    continue
                s = " ".join(tl)
                starts = [0] * (t_ + 1)
                off = 0
                for j, w in enumerate(tl):
                    starts[j] = off
                    off += len(w) + 1
                starts[t_] = off
                seen = set()
                for j in range(t_ - k + 1):
                    a, b = starts[j], starts[j + k] - 1
                    sp = s[a:b]
                    if emit_offsets:
                        ids.append(i)
                        spans_.append(sp)
                        st_.append(a)
                        en_.append(b)
                    elif sp not in seen:
                        seen.add(sp)
                        ids.append(i)
                        spans_.append(sp)
            out = {"id": ids, "span": spans_}
            if emit_offsets:
                out["start"] = st_
                out["end"] = en_
            yield pd.DataFrame(out)
    return _kernel


def repeated_span_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", span_tokens: int = 15,
                        min_doc_freq: int = 2,
                        max_doc_freq: int = 50,
                        key_mode: str = "hash",
                        span_mode: str = "arrow") -> DataFrame:
    """Exact repeated-substring detection at SPAN granularity — the
    distributed, bucketed approximation of suffix-array substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): two documents pair when they share a VERBATIM run
    of ``span_tokens`` normalized tokens; output (id_a, id_b,
    n_shared_spans) with id_a < id_b.

    Scale shape: one pass explodes each document's rolling token spans
    (distinct per doc), then a document-frequency filter BOUNDS every
    bucket before any join — spans occurring in more than
    ``max_doc_freq`` documents are boilerplate (license headers,
    templates), exactly the spans that would otherwise create quadratic
    hot buckets, and excluding them is what production pipelines do
    deliberately (boilerplate belongs to the repetition/quality
    filters, not pair explosion). The self equi-join on the surviving
    spans is therefore O(sum of bounded bucket^2), never all-pairs.

    ``key_mode`` picks the span join key (both modes value-identical
    at all three fixture SFs — the key never reaches the output):

    - "hash" (production default): key = (xxhash64(span), span).
      Every key comparison in the exchange hash, the distinct, the
      df-count and the SHJ probe hits the 8-byte hash FIRST and only
      touches the ~100-byte span string on hash equality — at 100 TB
      that is long-int instead of long-string compares on every
      shuffled row. The span stays in the key, so a 64-bit collision
      can never merge two buckets (exactness does not ride on hash
      uniqueness).
    - "text": span alone — the portable mode mirroring the DuckDB
      oracle SQL expression-for-expression.

    ``span_mode`` picks the window-explode implementation (both
    value-identical — identical token arrays in, identical distinct
    (id, span) rows out):

    - "arrow" (default): tokenization stays CATALYST (the exact
      normalize/split expressions — no semantic drift), then an
      Arrow-batched kernel emits each doc's distinct spans by offset-
      slicing ONE ' '.join of the tokens — O(tokens) per doc. The
      Catalyst form pays slice-allocate + array_join per POSITION
      (O(span_tokens x tokens) string builds) and measured 3.2 s vs
      1.0 s at sf0.1 on the operator's dominant stage. Per-doc
      distinct inside the kernel also replaces the global (id, span)
      dropDuplicates (a doc's spans all live in its own row, so
      per-doc dedup IS complete (id, span) dedup).
    - "catalyst": the pure-expression explode + dropDuplicates."""
    if key_mode == "hash":
        key = ["_k", "span"]
    elif key_mode == "text":
        key = ["span"]
    else:
        raise ValueError(f"unknown key_mode {key_mode!r} (hash|text)")
    toks = F.split(normalize_text(F.col(text_col)), " ")
    # ONE exchange serves all three span-keyed steps (subset rule, same
    # trick as label propagation): hash-partitioning on the span key
    # satisfies the (id, key) distinct, the per-key df count, AND
    # co-locates the pair self-join — measured 4.7 -> 3.8 s at sf0.1 vs
    # distinct-first. The hash key is materialized as a COLUMN before
    # the repartition: an inline xxhash64(span) partitioning expression
    # would not subset-match the downstream distinct/agg/join
    # requirements and would buy a second exchange.
    if span_mode == "arrow":
        # the mapInPandas schema derives the id field's type from the
        # INPUT schema (the kernel emits ids untouched), so string/int
        # doc ids behave identically to the Catalyst path and the
        # sibling pair generators (r10 advice: a hardcoded 'id long'
        # made string-id corpora fail with an Arrow cast error)
        id_t = docs.schema[id_col].dataType.simpleString()
        base = (drop_blank_docs(docs, text_col)
                .select(F.col(id_col).alias("id"), toks.alias("toks"))
                .mapInPandas(_span_window_kernel(int(span_tokens), False),
                             schema=f"id {id_t}, span string"))
        if key_mode == "hash":
            base = base.withColumn("_k", F.xxhash64("span"))
        # already (id, span)-distinct (per-doc kernel dedup): the
        # repartition alone feeds the df-count + self-join
        base = base.repartition(*[F.col(c) for c in key])
    elif span_mode == "catalyst":
        n = F.size(toks)
        spans = F.when(n >= span_tokens, F.transform(
            F.sequence(F.lit(0), n - F.lit(span_tokens)),
            lambda i: F.array_join(F.slice(toks, i + 1, span_tokens),
                                   " ")))
        base = (drop_blank_docs(docs, text_col)
                .select(F.col(id_col).alias("id"),
                        F.explode(spans).alias("span")))
        if key_mode == "hash":
            base = base.withColumn("_k", F.xxhash64("span"))
        base = (base.repartition(*[F.col(c) for c in key])
                .dropDuplicates(["id", *key]))
    else:
        raise ValueError(f"unknown span_mode {span_mode!r} "
                         f"(arrow|catalyst)")
    keep = (base.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("_df"))  # base is doc-distinct
            .filter((F.col("_df") >= min_doc_freq)
                    & (F.col("_df") <= max_doc_freq))
            .select(*key))
    sp = base.join(keep, key)
    a = sp.select(*key, F.col("id").alias("id_a"))
    b = sp.select(*key, F.col("id").alias("id_b"))
    # bounded-bucket equi-join: SHJ for the same uniform-bucket reason
    # as the LSH band joins (sort-merge's sorts buy nothing here)
    return (a.join(b.hint("shuffle_hash"), key)
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared_spans")))


def substring_removal_spans(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            span_tokens: int = 15,
                            min_doc_freq: int = 2) -> DataFrame:
    """Per-document REMOVAL ranges for duplicated text — the actual
    deliverable of suffix-array substring dedup (Lee et al. 2022): for
    every document, the merged character intervals (over the normalized
    text) covered by ``span_tokens``-token runs that occur in at least
    ``min_doc_freq`` DISTINCT documents. Downstream pipelines cut these
    ranges out of the training corpus.

    Output: (id_col, cut_start, cut_end, n_spans) with 0-based
    [cut_start, cut_end) character offsets into
    ``normalize_text(text)`` and n_spans the number of duplicated span
    occurrences merged into the range. Offsets count CODE POINTS (the
    Python/DuckDB length semantics; the kernel computes start AND end,
    so Spark's UTF-16 ``length`` never enters the arithmetic).

    Plan: the same Arrow offset-slicing kernel shape as
    repeated_span_pairs emits EVERY span occurrence with its interval;
    ONE span-keyed exchange (hash-first (xxhash64, span) key) serves
    the distinct-doc-frequency count AND the filter join back onto the
    occurrences; interval merge is per-document gaps-and-islands — a
    doc-keyed window over per-doc-bounded rows (running max(end), new
    island when start exceeds it), never a global sort. No unbounded
    state anywhere: buckets are span-frequency-shaped, islands are
    doc-local."""
    from pyspark.sql import Window

    toks = F.split(normalize_text(F.col(text_col)), " ")
    # id type follows the input schema (see repeated_span_pairs)
    id_t = docs.schema[id_col].dataType.simpleString()
    occ = (drop_blank_docs(docs, text_col)
           .select(F.col(id_col).alias("id"), toks.alias("toks"))
           .mapInPandas(_span_window_kernel(int(span_tokens), True),
                        schema=f"id {id_t}, span string, "
                               "start long, end long")
           .withColumn("_k", F.xxhash64("span"))
           .repartition(F.col("_k"), F.col("span")))
    # distinct-doc frequency per span; the exchange above serves this
    # aggregate AND the join back (subset rule, as in the pairs op)
    dup = (occ.groupBy("_k", "span")
           .agg(F.count_distinct("id").alias("_df"))
           .filter(F.col("_df") >= int(min_doc_freq))
           .select("_k", "span"))
    hits = occ.join(dup, ["_k", "span"]).select("id", "start", "end")
    # gaps-and-islands interval merge, doc-local: rows per doc are
    # bounded by that doc's token count, so the window never sees
    # unbounded partitions
    w_ord = Window.partitionBy("id").orderBy("start", "end")
    run_max = F.max("end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    new_island = (F.col("start") > F.coalesce(run_max, F.lit(-1)))
    island = F.sum(new_island.cast("int")).over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0))
    return (hits.withColumn("_isl", island)
            .groupBy("id", "_isl")
            .agg(F.min("start").alias("cut_start"),
                 F.max("end").alias("cut_end"),
                 F.count(F.lit(1)).alias("n_spans"))
            .select(F.col("id").alias(id_col), "cut_start", "cut_end",
                    "n_spans"))


def apply_removal_spans(docs: DataFrame, spans: DataFrame,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """APPLY per-document removal ranges to the corpus — the second half
    of the Lee et al. 2022 substring-dedup loop (substring_removal_spans
    emits the ranges; this operator produces the scrubbed training
    text). Output one row per non-blank document: (id_col, n_cut,
    n_chars_cut, clean_text) where clean_text is
    ``normalize_text(text)`` with every [cut_start, cut_end) code-point
    interval removed, n_cut the number of intervals applied and
    n_chars_cut the code points removed. Documents with no ranges pass
    through with the normalized text intact.

    Plan shape: the ranges aggregate doc-locally into ONE sorted
    interval array per document (bounded: intervals per doc are merged
    and disjoint, so there are at most len(text)/2 of them), then a
    single equi-join attaches the array to the corpus and the cut
    itself is a pure Catalyst fold (aggregate over the interval array
    concatenating the gap substrings) — map-only after the join, no
    Python in the hot path, no second pass over the text. At 100 TB the
    only cost beyond the corpus scan is the doc-keyed shuffle of the
    (narrow) interval table; AQE broadcast-joins it when duplication is
    sparse."""
    s = normalize_text(F.col(text_col))
    ranged = (spans.groupBy(F.col(id_col).alias("_id"))
              .agg(F.sort_array(F.collect_list(F.struct(
                       F.col("cut_start").alias("s"),
                       F.col("cut_end").alias("e")))).alias("_cuts")))
    base = (drop_blank_docs(docs, text_col)
            .select(F.col(id_col), s.alias("_s"))
            .join(ranged, F.col(id_col) == F.col("_id"), "left")
            .drop("_id"))
    cuts = F.coalesce("_cuts", F.array().cast(
        "array<struct<s:bigint,e:bigint>>"))
    txt = F.col("_s")
    # fold state: (next uncut position, accumulated kept text). Offsets
    # are CODE POINTS (the kernel/oracle semantics); Column.substr is
    # code-point based in Spark, so the arithmetic lines up exactly.
    folded = F.aggregate(
        cuts,
        F.struct(F.lit(0).cast("bigint").alias("pos"),
                 F.lit("").alias("acc")),
        lambda st, c: F.struct(
            c["e"].alias("pos"),
            F.concat(st["acc"],
                     txt.substr((st["pos"] + 1).cast("int"),
                                (c["s"] - st["pos"]).cast("int")))
            .alias("acc")),
        lambda st: F.concat(
            st["acc"],
            txt.substr((st["pos"] + 1).cast("int"),
                       (F.length(txt) - st["pos"]).cast("int"))))
    return base.select(
        F.col(id_col),
        F.coalesce(F.size("_cuts"), F.lit(0)).cast("bigint")
        .alias("n_cut"),
        F.coalesce(F.aggregate(cuts, F.lit(0).cast("bigint"),
                               lambda a, c: a + (c["e"] - c["s"])),
                   F.lit(0).cast("bigint")).alias("n_chars_cut"),
        folded.alias("clean_text"))
