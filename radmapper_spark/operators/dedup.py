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
- ngram_jaccard_pairs: exact n-gram Jaccard on candidate pairs (verification
  stage after LSH).
- embedding_cosine_pairs: near-dup by exact embedding cosine, the
  cosine_join self-join. The embedding family has two Arrow kernels, one
  per shape: cosine_join for dense products (blocked GEMM) and
  cosine_verify for given candidate pairs. The persisted embedding
  index is its (id, v) vectors table, and a probe is one two-sided
  cosine_join against it: no LSH anywhere in the family.

The text operators stay JVM-side (built-in functions only — no Python
UDFs in the hot path): xxhash64, transform, aggregate, explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import persist
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


# ------------------------------------------------------ build parameters
#
# Which hash family and parameters built a signature frame or a
# persisted index is recorded ONCE, as Spark field metadata on its
# signature (or vector) column under _BUILD_KEY. The record rides the
# schema through select, filter, explode, persist and a parquet write
# and read, so an in-memory base and an on-disk index carry the same
# witness, and every consumer compares it through check_params: a
# mismatch, or no record at all, raises (the reference fails loudly on
# mismatched inputs rather than coercing them, query.cljc:11-23). An
# expression that rebuilds the column drops the record (so does the
# aggregate the optimizer makes of a dropDuplicates, which is why
# state.compact_batch_partitions restores it before writing).

_BUILD_KEY = "rm_build"


class IndexParamMismatch(ValueError):
    """A signature base or persisted index was built with other
    parameters than its consumer's, or records none: its candidates
    would be plausible but wrong, so the consumer must not run."""


def build_params(frame: DataFrame, col: str) -> dict:
    """The build parameters recorded on ``frame``'s ``col`` ({} when
    none are). Schema only: no Spark job."""
    if col not in frame.columns:
        return {}
    return frame.schema[col].metadata.get(_BUILD_KEY, {})


def stamp_params(col: str, **params):
    """Column ``col`` recording ``params`` (a ``kind`` and that family's
    parameters) as its build parameters."""
    return F.col(col).alias(col, metadata={_BUILD_KEY: params})


def check_params(frame: DataFrame, col: str, who: str, **expect) -> None:
    """Raise IndexParamMismatch unless ``frame``'s ``col`` records every
    ``expect`` item. A frame recording nothing (built by hand, or before
    the record existed) is refused: nothing vouches for it."""
    got = build_params(frame, col)
    if not got:
        raise IndexParamMismatch(
            f"{who}: {col!r} carries no build parameters (built by hand "
            f"or before they were recorded): rebuild it with its builder")
    bad = sorted((k, got.get(k), v) for k, v in expect.items()
                 if got.get(k) != v)
    if bad:
        raise IndexParamMismatch(
            f"{who}: {col!r} was built with mismatched parameters {{"
            + ", ".join(f"{k}: base={b!r} != caller={c!r}"
                        for k, b, c in bad)
            + "}: rebuild it with the caller's parameters")


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
    0.24 s cached at sf0.1). NOT persisted here; callers decide. The
    ``minhash`` column records {kind "minhash", num_hashes, shingle_k,
    hash_mode} (check_params)."""
    return minhash_signature(drop_blank_docs(docs, text_col), text_col,
                             num_hashes, shingle_k,
                             hash_mode=hash_mode).select(
        F.col(id_col).alias("id"),
        stamp_params("minhash", kind="minhash", num_hashes=num_hashes,
                     shingle_k=shingle_k, hash_mode=hash_mode))


def minhash_bands(sigs: DataFrame, num_hashes: int = 32, bands: int = 8,
                  hash_mode: str = "xxhash64") -> DataFrame:
    """(band, bhash, id, minhash), one row per signature per band: the
    ONE band-row builder of the minhash family (batch self-join, index
    build and append, index probe, stream). ``sigs`` is a minhash_base
    frame (id, minhash), so blank docs never reach a bucket. Band b
    hashes signature positions [b*r, (b+1)*r), r = num_hashes // bands,
    with xxhash64 or (hash_mode "portable") the polynomial combine
    DuckDB reproduces. The persisted index rows have exactly this
    shape; their ``minhash`` column records the signatures' build
    parameters plus ``bands``. Stateless Catalyst only, so it runs on a
    stream too."""
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
             F.col("bb.bhash").alias("bhash"), "id",
             stamp_params("minhash", **build_params(sigs, "minhash"),
                          bands=bands))


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
    leaf hash expressions change.

    ``base``: a caller-persisted minhash_base frame; its recorded
    (num_hashes, shingle_k, hash_mode) must match (check_params)."""
    # persist the (small: id + num_hashes longs per doc) signature frame so
    # the self-join's two sides don't recompute the shingling (the
    # caller's scope releases it); callers over an IMMUTABLE corpus pass
    # a persisted `base` instead and the shingling is paid once per
    # corpus ever
    if base is None:
        sigs = persist(minhash_base(docs, text_col, id_col, num_hashes,
                                    shingle_k, hash_mode=hash_mode))
    else:
        check_params(base, "minhash", "minhash_lsh_pairs", kind="minhash",
                     num_hashes=num_hashes, shingle_k=shingle_k,
                     hash_mode=hash_mode)
        sigs = base
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
    return (
        cand.withColumn("est_jaccard",
                        _est_jaccard("mh_a", "mh_b", num_hashes))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


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
    fingerprints are a pure function of (corpus, params)); its
    recorded nbits and hash_mode must match (check_params), and the
    caller owns its cache; without it the fingerprints persist in the
    caller's scope.
    """
    assert bands * band_bits <= nbits
    if base is None:
        base = persist(simhash_base(docs, text_col, id_col, nbits=nbits,
                                    hash_mode=hash_mode))
    else:
        check_params(base, "simhash", "simhash_pairs", kind="simhash",
                     nbits=nbits, hash_mode=hash_mode)
    return hamming_band_pairs(base, hash_col="simhash",
                              max_hamming=max_hamming, bands=bands,
                              band_bits=band_bits)


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
    callers decide caching. The ``simhash`` column records {kind
    "simhash", nbits, hash_mode}."""
    return simhash(drop_blank_docs(docs, text_col), text_col, id_col,
                   nbits=nbits, hash_mode=hash_mode).select(
        F.col(id_col).alias("id"),
        stamp_params("simhash", kind="simhash", nbits=nbits,
                     hash_mode=hash_mode))


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
    return scored.filter((F.col("jaccard") >= threshold)
                         | (F.spark_partition_id() < F.lit(0)))


def dedup_groups(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dup GROUP labeling for every document: graph.connected_components
    (one gate) over a near-dup pair frame (minhash/simhash/jaccard/cosine
    output), keeping the lowest doc id as the group representative; the
    pairs are consumed eagerly at construction (checkpoint + gate)."""
    from .graph import connected_components

    comp = connected_components(
        pairs.select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint")),
        nodes=docs.select(F.col(id_col).cast("bigint").alias("node")))
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

def cosine_verify(pairs: DataFrame, va: str, vb: str,
                  threshold: float = None) -> DataFrame:
    """Exact cosine of GIVEN candidate pairs: the embedding family's
    kernel for that shape (similarity.semantic_dedup_pairs and the
    ivf_topk, pq_topk and search_ivf_index rescoring). Dense all-pairs
    products go through its twin, cosine_join.

    `pairs` carries two array<float|double> vector columns `va` and `vb`;
    every other column is a key passed through with its input type.
    Returns the keys plus an UNROUNDED `cosine` double for each pair whose
    cosine is >= `threshold`, or for every pair when it is None (the
    filter runs on the unrounded value, as in the oracles; callers round
    for output). A pair with a NULL vector or two vectors of different
    lengths is dropped; operators that must reject such input go
    through cosine_join, which raises on it.

    One mapInArrow kernel: a list column is ONE flat values buffer plus
    offsets, so each (m, dim) matrix is a single vectorized gather.
    Vectors cross Arrow in their storage type and widen to double inside
    the kernel (float -> double is exact, at half the boundary bytes of
    a JVM-side cast). The closure captures only strings and a float, so
    it ships by value to executors that cannot import this module."""
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
    neardup_embedding_vs_index, similarity.brute_force_topk /
    range_search, decontam.embedding_decontam). Given candidate pairs go
    through its twin, cosine_verify.

    `left` and `right` are (id, vector) frames: the first column is the
    id (any type, passed through), the second an array<float|double>
    vector. Returns (id_a, id_b, cosine), id_a from `left` and id_b from
    `right`, with the UNROUNDED cosine; with a `threshold`, only pairs at
    or above it (the filter runs on the unrounded value, as in the
    oracles; callers round for output). `right` is the small side (the
    queries, the benchmark set, a probe batch): its blocks are broadcast
    while plan_stats.broadcast_gate passes its estimated size (unknown,
    as for local and micro-batch frames, passes), else the block rows
    meet in a shuffled cartesian product; ``result.rm_broadcast_path``
    says which. `right=None` is the self-join of `left`: each unordered
    pair once, as id_a < id_b, no self pair.

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
    use_bc = None if self_join else broadcast_gate(
        left.sparkSession, est_plan_bytes(right), if_unknown=True)
    pairs = a.join(b, F.col("ba") <= F.col("bb")) if self_join \
        else a.crossJoin(F.broadcast(b) if use_bc
                         else b.hint("shuffle_replicate_nl"))
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

    out = pairs.mapInArrow(_kernel, schema)
    out.rm_broadcast_path = use_bc
    return out


def embedding_cosine_pairs(emb: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           threshold: float = 0.45) -> DataFrame:
    """Near-duplicate pairs by exact embedding cosine: (id_a, id_b,
    cosine) for every pair with id_a < id_b whose UNROUNDED cosine is
    >= `threshold` — the cosine_join self-join of the (id, vector)
    rows, with no candidate stage and no recall parameter. A NULL or
    ragged vector raises. Nothing is persisted, so there is no cache to
    release."""
    return cosine_join(emb.select(id_col, vec_col), threshold=threshold)


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


# ------------------------------------------------------ persisted indexes
#
# A persisted index is a directory: its data table (``bands/`` for
# minhash, ``vectors/`` for embeddings) in the per-batch state layout
# of streaming/state.py. Its build parameters are the ones its rows'
# signature (or vector) column records (check_params), so they travel
# in every parquet footer of the table, with no file beside it.
# Builds write the seed partition, out-of-stream admits append to it,
# and the streaming admission loop (streaming/sinks.py) probes the
# prior view and writes its admits as its own batch partition, so a
# replayed batch rewrites exactly its own rows.

_VECTORS_KIND = "vectors"  # the embedding index's recorded kind
# kind -> (data table under the index path, the column recording it)
_TABLES = {"minhash": ("bands", "minhash"), _VECTORS_KIND: ("vectors", "v")}


def _index_table(spark, path: str, kind: str, params: dict, who: str):
    """(path, frame) of the `kind` index's data table at `path`, after
    checking its per-batch layout (ValueError: a table written before
    it is refused, never misread) and the build parameters its column
    records against (kind, params) (IndexParamMismatch). A probe scans
    this frame, so the check adds no Spark job to it. Spark reads the
    record from one footer, so an append checks here before it writes:
    a table never holds files of two parameter sets."""
    from ..streaming.state import check_layout

    name, col = _TABLES[kind]
    table = f"{path}/{name}"
    check_layout(spark, table, f"{kind} index")
    frame = spark.read.parquet(table)
    check_params(frame, col, who, kind=kind, **params)
    return table, frame


def _minhash_params(num_hashes, bands, shingle_k, hash_mode) -> dict:
    return {"num_hashes": num_hashes, "bands": bands,
            "shingle_k": shingle_k, "hash_mode": hash_mode}


def _minhash_rows(docs: DataFrame, text_col: str, id_col: str,
                  num_hashes: int, bands: int, shingle_k: int,
                  hash_mode: str) -> DataFrame:
    """`docs`' (band, bhash, id, minhash) index rows."""
    sigs = minhash_base(docs, text_col, id_col, num_hashes, shingle_k,
                        hash_mode=hash_mode)
    return minhash_bands(sigs, num_hashes, bands, hash_mode)


def build_minhash_index(docs: DataFrame, path: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 32, bands: int = 8,
                        shingle_k: int = 5,
                        hash_mode: str = "xxhash64") -> None:
    """Persist the corpus's banded minhash index: the ``bands/`` table
    of (band, bhash, id, minhash) rows, partitioned by band below the
    batch column (the corpus is the seed partition). Incremental
    near-dup (below) probes it WITHOUT touching the corpus text — the
    at-scale shape for a growing corpus: signature extraction is paid
    once per document ever, and a probe batch shuffles only its own
    signatures. The rows' ``minhash`` column records the build params
    (num_hashes, bands, shingle_k, hash_mode); probes, appends and
    compaction check them and RAISE on mismatch (_index_table).
    """
    from ..streaming.state import write_seed

    write_seed(_minhash_rows(docs, text_col, id_col, num_hashes, bands,
                             shingle_k, hash_mode),
               f"{path}/bands", "band")


def append_to_minhash_index(new_docs: DataFrame, path: str,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            num_hashes: int = 32, bands: int = 8,
                            shingle_k: int = 5,
                            hash_mode: str = "xxhash64") -> None:
    """ADMIT a batch into the persisted minhash index out of stream:
    append the batch's (band, bhash, id, minhash) rows to the seed
    partition, so every future probe sees them. Only the batch's
    signatures are computed; the existing index is never rewritten.
    Params are checked against the ones the index records before
    anything is written — an append in the wrong hash family would
    poison the index, so it raises IndexParamMismatch instead."""
    from ..streaming.state import write_seed

    table, _ = _index_table(new_docs.sparkSession, path, "minhash",
                            _minhash_params(num_hashes, bands, shingle_k,
                                            hash_mode),
                            "append_to_minhash_index")
    write_seed(_minhash_rows(new_docs, text_col, id_col, num_hashes,
                             bands, shingle_k, hash_mode),
               table, "band", mode="append")


def _minhash_probe(new_docs: DataFrame, idx: DataFrame, text_col: str,
                   id_col: str, num_hashes: int, bands: int,
                   shingle_k: int, jaccard_threshold: float,
                   hash_mode: str) -> DataFrame:
    """neardup_vs_index against the index rows `idx` (the whole table,
    or a streaming batch's prior view of it)."""
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


def neardup_vs_index(new_docs: DataFrame, path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_hashes: int = 32, bands: int = 8,
                     shingle_k: int = 5,
                     jaccard_threshold: float = 0.5,
                     hash_mode: str = "xxhash64") -> DataFrame:
    """Probe a persisted minhash index with a batch of NEW documents:
    returns (new_id, index_id, est_jaccard) for every new doc that
    near-duplicates an indexed one. The probe computes signatures for
    the batch only, equi-joins the index on (band, bhash) — the index
    text is never read — and verifies on the stored signatures.
    Estimated jaccard is identical to the batch operator's (same
    signature family). Raises IndexParamMismatch when (num_hashes,
    bands, shingle_k, hash_mode) disagree with the ones the index
    records.
    """
    _, idx = _index_table(new_docs.sparkSession, path, "minhash",
                          _minhash_params(num_hashes, bands, shingle_k,
                                          hash_mode), "neardup_vs_index")
    return _minhash_probe(new_docs, idx, text_col, id_col, num_hashes,
                          bands, shingle_k, jaccard_threshold, hash_mode)


def _vector_rows(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """`emb`'s (id, v double[]) index rows; ``v`` records kind
    "vectors"."""
    return emb.select(F.col(id_col).alias("id"),
                      F.transform(F.col(vec_col), lambda x: x.cast("double"))
                      .alias("v")).withColumn(
        "v", stamp_params("v", kind=_VECTORS_KIND))


def build_embedding_index(emb: DataFrame, path: str,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> None:
    """Persist the corpus's embedding index, the embedding twin of
    build_minhash_index: the ``vectors/`` table (id, v double[]) under
    `path` (the corpus is its seed partition), whose ``v`` column
    records kind "vectors" and no params. A probe batch
    (neardup_embedding_vs_index) never re-reads the corpus table."""
    from ..streaming.state import write_seed

    write_seed(_vector_rows(emb, vec_col, id_col), f"{path}/vectors")


def append_to_embedding_index(new_emb: DataFrame, path: str,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id") -> None:
    """ADMIT a vector batch into the persisted embedding index out of
    stream (the twin of append_to_minhash_index): its (id, v) rows
    append to the seed partition of the ``vectors`` table; an index of
    another kind, or recording none, raises IndexParamMismatch."""
    from ..streaming.state import write_seed

    table, _ = _index_table(new_emb.sparkSession, path, _VECTORS_KIND,
                            {}, "append_to_embedding_index")
    write_seed(_vector_rows(new_emb, vec_col, id_col), table,
               mode="append")


def _embedding_probe(new_emb: DataFrame, vectors: DataFrame,
                     vec_col: str, id_col: str,
                     threshold: float) -> DataFrame:
    """neardup_embedding_vs_index against the index rows `vectors`
    (the whole table, or a streaming batch's prior view of it)."""
    pairs = cosine_join(vectors.select("id", "v"),
                        new_emb.select(id_col, vec_col), threshold)
    out = pairs.select(F.col("id_b").alias("new_id"),
                       F.col("id_a").alias("index_id"), "cosine")
    out.rm_broadcast_path = pairs.rm_broadcast_path
    return out


def neardup_embedding_vs_index(new_emb: DataFrame, path: str,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id",
                               threshold: float = 0.45) -> DataFrame:
    """Probe a persisted embedding index with a batch of NEW vectors:
    (new_id, index_id, cosine) for EVERY (new, indexed) pair whose
    cosine clears `threshold`, exactly. One two-sided cosine_join: the
    index's ``vectors`` table on the left, the batch on the right (the
    broadcast side under the gate, ``result.rm_broadcast_path``), so the
    index never has to fit in a broadcast and the corpus table is never
    read. Cost grows as batch x index dot products, not sublinearly in
    the index (sf1: a 4k batch x a 16k index, dim 64). Id columns keep
    their input types; a NULL or ragged vector raises; an index of
    another kind, or recording none (one built before the record
    existed, such as the old banded sign-LSH one), raises
    IndexParamMismatch."""
    _, vectors = _index_table(new_emb.sparkSession, path, _VECTORS_KIND,
                              {}, "neardup_embedding_vs_index")
    return _embedding_probe(new_emb, vectors, vec_col, id_col, threshold)


def _compact_index(spark, path: str, kind: str, keys: list,
                   partition_by: tuple = ()) -> int:
    """Fold the `kind` index's table (streaming/state.py
    compact_batch_partitions) with rows duplicate on `keys` dropped:
    repeated out-of-stream admits of the same rows leave exact
    duplicates in the seed. The fold keeps the rows' columns, so the
    compacted table records the same build parameters; a table of
    another kind, or recording none, raises IndexParamMismatch.
    Returns rows removed."""
    from ..streaming.state import compact_batch_partitions

    table, _ = _index_table(spark, path, kind, {}, f"compact {kind} index")
    return compact_batch_partitions(
        spark, table, None, lambda old: old.dropDuplicates(keys),
        partition_by=partition_by)["rows_removed"]


def compact_minhash_index(spark, path: str) -> int:
    """Out-of-band maintenance for a minhash index: folds the seed and
    the committed batch partitions into the seed, dropping rows
    duplicate on (band, bhash, id). Returns rows removed."""
    return _compact_index(spark, path, "minhash", ["band", "bhash", "id"],
                          ("band",))


def compact_embedding_index(spark, path: str) -> int:
    """Embedding twin of compact_minhash_index: the fold drops
    ``vectors`` rows duplicate on id. Returns rows removed."""
    return _compact_index(spark, path, _VECTORS_KIND, ["id"])


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
