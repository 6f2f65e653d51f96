"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata; decode/feature-extract as Arrow-batched pandas
UDFs over mapInPandas.

The real PIL decode body is written and IMPORT-GUARDED: when pillow is
present on the executors it activates automatically (grayscale 4x4
resize -> 16 normalized pixel features). When the import fails (this
container has no image libraries) ``RM_MM_FAKE_DECODE=1`` (default in
tests) swaps in a deterministic sha256 fake so the Spark-side plumbing —
schema, batching, partitioning, UDF signatures — is still tested
end-to-end; with the env var unset the decode raises instead of faking.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import persist

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("payload", T.BinaryType()),     # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ])),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sha256", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def synthesize_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (binary payloads) for tests."""
    import random
    rnd = random.Random(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes(rnd.getrandbits(8) for _ in range(256 + (i % 7) * 64))
        rows.append((i, kind, payload,
                     {"mime": f"{kind}/x-fake", "width": 64 + i % 128,
                      "height": 64 + (i * 3) % 128, "duration_ms": 1000 * (i % 30)}))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def extract_features(media: DataFrame, batch_hint: int = 256) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, Arrow batches out.
    Partitioning carries over from the source; the UDF is pure so Spark can
    retry/restage freely at scale."""
    import pandas as pd

    fake_decode = os.environ.get("RM_MM_FAKE_DECODE", "1") == "1"

    # self-contained closure: executor workers don't import radmapper_spark
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        # import-guard ONCE per task, not per row: the real PIL body
        # activates wherever pillow is installed on the executor
        try:
            import io as _io

            from PIL import Image as _Image
            have_pil = True
        except ImportError:
            have_pil = False

        def fake(payload):
            h = _hl.sha256(payload).digest()
            return [b / 255.0 for b in h[:16]]

        def decode(payload):
            if have_pil:
                try:
                    img = _Image.open(_io.BytesIO(payload)) \
                        .convert("L").resize((4, 4))
                    return [p / 255.0 for p in img.getdata()]
                except Exception:
                    # undecodable bytes: fake fixtures tolerate, prod raises
                    if fake_decode:
                        return fake(payload)
                    raise
            if fake_decode:
                return fake(payload)
            raise NotImplementedError(
                "image decode requires pillow/libvips on the executors "
                "(pip install pillow, or ship via --py-files)")

        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                "sha256": pdf["payload"].map(
                    lambda b: _hl.sha256(b or b"").hexdigest()),
                "feature": [decode(p or b"") for p in pdf["payload"]],
            }
            yield pd.DataFrame(out)

    return media.mapInPandas(extract, FEATURE_SCHEMA)


def perceptual_hash(media: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id", pixels: int = 61,
                    bits: int = 60, carry_cols: tuple = ()) -> DataFrame:
    """Perceptual image hash (dHash, gradient variant) over the binary
    payload column: decode to a ``pixels``-sample luminance strip, then
    bit i of the hash is 1 iff strip[i+1] > strip[i] — near-identical
    images land within small Hamming distance. ``bits`` <= 60 keeps the
    hash a non-negative BIGINT (the module's portable-hash convention;
    see dedup.simhash hash_mode="portable"), so every downstream band /
    xor / popcount runs on plain JVM longs and the DuckDB oracle
    reproduces it bit-for-bit.

    Decode boundary (the module contract): with pillow on the executors
    the strip is a real grayscale resize to (pixels, 1) — the 1-D
    variant of classic 9x8 dHash. Without it, RM_MM_FAKE_DECODE=1
    (default in tests) swaps a deterministic LOCALITY-PRESERVING fake:
    the payload decodes as UTF-8 text (latin-1 on invalid bytes — byte
    values) and pixel i is the sum of code points in the i-th of
    ``pixels`` equal slices, mod 256 — a byte-level downsample, which
    is exactly what a grayscale resize is, so near-identical payloads
    still yield near-identical strips and the banded Hamming join is
    exercised for real. With the env var unset and no PIL, raises.

    NULL/empty payloads are dropped (a hash of nothing is the blank-doc
    hot bucket — same rationale as dedup.drop_blank_docs). Map-only
    Arrow pass: one output row per input row, no shuffle. The ``phash``
    column records kind "phash" and ``bits`` (dedup.check_params)."""
    import pandas as pd

    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    if pixels != bits + 1:
        raise ValueError(f"pixels must be bits + 1 (adjacent-gradient "
                         f"comparisons), got {pixels} for {bits} bits")
    fake_ok = os.environ.get("RM_MM_FAKE_DECODE", "1") == "1"
    px_, bits_ = int(pixels), int(bits)
    # extra columns carried through the Arrow pass untouched (e.g. the
    # event-time column for the streaming dedup path — carrying beats a
    # post-hoc stream-stream join, whose state is unbounded)
    carry_ = tuple(carry_cols)

    # self-contained closure: executors cannot import radmapper_spark
    def hash_batches(batches):
        import numpy as np
        import pandas as pd
        try:
            import io as _io

            from PIL import Image as _Image
            have_pil = True
        except ImportError:
            have_pil = False

        def strip_fake(payload):
            try:
                s = payload.decode("utf-8")
            except UnicodeDecodeError:
                s = payload.decode("latin-1")
            cp = np.frompyfunc(ord, 1, 1)(np.array(list(s), dtype=object)
                                          ).astype(np.int64) \
                if s else np.zeros(0, dtype=np.int64)
            L = len(cp)
            bounds = [(i * L) // px_ for i in range(px_ + 1)]
            return np.array([int(cp[bounds[i]:bounds[i + 1]].sum()) % 256
                             for i in range(px_)], dtype=np.int64)

        def strip(payload):
            if have_pil:
                try:
                    img = _Image.open(_io.BytesIO(payload)) \
                        .convert("L").resize((px_, 1))
                    return np.asarray(img.getdata(), dtype=np.int64)
                except Exception:
                    if not fake_ok:
                        raise
            if fake_ok:
                return strip_fake(payload)
            raise NotImplementedError(
                "image decode requires pillow on the executors "
                "(pip install pillow, or ship via --py-files)")

        weights = np.int64(1) << np.arange(bits_, dtype=np.int64)
        for pdf in batches:
            keep = pdf[payload_col].map(
                lambda b: b is not None and len(b) > 0)
            pdf = pdf[keep]
            hashes = []
            for p in pdf[payload_col]:
                s = strip(bytes(p))
                hashes.append(int(((s[1:] > s[:-1]).astype(np.int64)
                                   * weights).sum()))
            out = {"media_id": pdf[id_col],
                   "phash": pd.Series(hashes, dtype="int64",
                                      index=pdf.index)}
            for c in carry_:
                out[c] = pdf[c]  # pass-through, untouched
            yield pd.DataFrame(out)

    from .dedup import stamp_params

    # id + carried types follow the input schema (the r10 span-kernel
    # lesson: never hardcode field types of a mapInPandas schema)
    schema = T.StructType(
        [T.StructField("media_id", media.schema[id_col].dataType),
         T.StructField("phash", T.LongType())]
        + [T.StructField(c, media.schema[c].dataType) for c in carry_])
    return (media.select(F.col(id_col), F.col(payload_col),
                         *[F.col(c) for c in carry_])
            .mapInPandas(hash_batches, schema)
            .withColumn("phash", stamp_params("phash", kind="phash",
                                              bits=bits_)))


def phash_neardup_pairs(media: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id", max_hamming: int = 3,
                        bands: int = 4, band_bits: int = 15,
                        bits: int = 60,
                        base: DataFrame = None) -> DataFrame:
    """Image near-duplicate pairs: perceptual dHash + the banded
    Hamming join shared with text simhash (dedup.hamming_band_pairs —
    the Manku multi-table construction). Guaranteed recall for
    ``max_hamming`` < ``bands`` by pigeonhole. Output (id_a, id_b,
    hamming). Plan: one map-only Arrow hash pass, band explode, SHJ
    band self-join with the inline popcount verify — the identical
    100 TB shape as dedup_simhash. The hash frame is PERSISTED for the
    self-join (the module's persist-the-base contract: with real PIL
    decode the hash pass is the dominant cost and must not run on both
    join sides) in the caller's scope; callers over an immutable corpus
    pass a persisted ``base`` (id, phash) instead, recording the same
    ``bits``, and own its cache."""
    from . import dedup as _dedup

    if bands * band_bits > bits:
        raise ValueError(f"bands*band_bits ({bands}*{band_bits}) must "
                         f"fit in the {bits}-bit hash")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) — "
            f"the pigeonhole recall guarantee needs at least one "
            f"untouched band per true pair")
    if base is None:
        base = persist(perceptual_hash(media, payload_col, id_col,
                                       pixels=bits + 1, bits=bits))
    else:
        _dedup.check_params(base, "phash", "phash_neardup_pairs",
                            kind="phash", bits=bits)
    return _dedup.hamming_band_pairs(base, hash_col="phash",
                                     id_col="media_id",
                                     max_hamming=max_hamming,
                                     bands=bands, band_bits=band_bits)


def media_dedup(media: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id", bits: int = 60,
                streaming: bool = False, ts_col: str = "ts",
                watermark: str = "2 hours") -> DataFrame:
    """Media dedup by perceptual hash — the stream-native admission
    filter for incoming image batches (the text pipeline's
    dedup_events, at the perceptual level: re-encoded or
    metadata-tweaked copies of one image share a phash even when their
    bytes differ, which is exactly why byte-level dedup misses them).

    streaming=True: the event-time column is CARRIED THROUGH the
    map-only Arrow hash pass (no stream-stream join — joining the hash
    frame back to the source on id would buffer both sides' state
    without bound, the exact shape streaming/joins.py watermarks both
    sides to avoid), then dropDuplicatesWithinWatermark on the hash —
    per-hash state expires once the watermark passes, so state stays
    bounded on an unbounded stream; the FIRST arrival of each phash
    survives. Output: (id_col, phash, ts_col). Batch twin (the
    oracle-checked shape): one row per distinct phash with the MINIMUM
    id as the deterministic representative plus the copy count —
    (id_col, phash, n_copies).

    Near-duplicate (hamming > 0) admission belongs to the banded index
    path (phash_neardup_pairs / the persisted-index probes); this
    operator is the exact-fingerprint gate in front of it."""
    if streaming:
        from ..streaming.windows import _ensure_ltz

        hashes = perceptual_hash(media, payload_col, id_col,
                                 pixels=bits + 1, bits=bits,
                                 carry_cols=(ts_col,))
        return (_ensure_ltz(hashes.withColumnRenamed("media_id", id_col),
                            ts_col)
                .withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["phash"]))
    hashes = perceptual_hash(media, payload_col, id_col,
                             pixels=bits + 1, bits=bits)
    return (hashes.groupBy("phash")
            .agg(F.min("media_id").alias(id_col),
                 F.count(F.lit(1)).alias("n_copies"))
            .select(id_col, "phash", "n_copies"))
